"""Seeded, single-process input generator for the benchmark.

Two products, both pure functions of the seed:

- ``write_reference_sources``: reference-shaped dirty ``clients.csv`` /
  ``achats.csv`` (FIXTURES.md columns and dirt quotas, at most one defect
  per row) plus ``expected.json``, the clean row counts and per-rule drop
  counts the silver layer must report.
- ``write_corpus``: a TPC-H-ish star schema plus ``events``,
  ``documents`` and ``embeddings`` (one parquet file per table, the
  layout ``sources.tpch.read_table`` reads), sized like the sf0.01 test
  corpus.

The reference date and the silver ``max_date`` are pinned constants, so
no cleaning rule depends on the wall clock.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pandas as pd

REF_DATE = dt.date(2024, 6, 30)
# exclusive upper bound for purchases, inclusive for sign-up dates
MAX_DATE = REF_DATE + dt.timedelta(days=1)
MIN_DATE = "2000-01-01"
MAX_AMOUNT = 10_000.0
N_CLIENTS = 2_000  # about 31k purchases
SF = 0.01  # corpus scale: 60k lineitem rows, like the sf0.01 test corpus

COUNTRIES = ["France", "Belgique", "Suisse", "Canada", "Maroc",
             "Senegal", "Espagne", "Italie", "Allemagne"]
PRODUCTS = ["Livre", "Stylo", "Cahier", "Sac", "Lampe",
            "Tasse", "Clavier", "Souris", "Casque", "Ecran"]
FIRST = ["Jean", "Marie", "Luc", "Anne", "Paul", "Sophie", "Marc", "Julie"]
LAST = ["Martin", "Bernard", "Dubois", "Thomas", "Robert", "Petit", "Durand"]

# defects per 1,000 clean rows (FIXTURES.md); each row carries at most one
CLIENT_DIRT = {"bad_id": 10, "missing_field": 10, "bad_date": 5,
               "old_date": 3, "future_date": 2, "bad_email": 10, "dup_id": 5}
ACHAT_DIRT = {"bad_id": 10, "bad_date": 5, "old_date": 3, "future_date": 2,
              "bad_amount": 10, "bad_product": 5, "orphan": 20, "dup_id": 5}


def _pick(rng: np.random.Generator, n: int, quotas: dict[str, int]) -> np.ndarray:
    """Assign each of ``n`` rows one defect label ('' = clean)."""
    labels = np.full(n, "", dtype=object)
    counts = {k: max(1, n * q // 1000) for k, q in quotas.items()}
    idx = rng.permutation(n)[: sum(counts.values())]
    start = 0
    for k, c in counts.items():
        labels[idx[start:start + c]] = k
        start += c
    return labels


def _pad_case(rng: np.random.Generator, values: np.ndarray) -> np.ndarray:
    """Cosmetic noise silver normalizes (never a drop): case and padding."""
    out = values.astype(object)
    r = rng.random(len(out))
    out[r < 0.05] = [v.lower() for v in out[r < 0.05]]
    out[(r >= 0.05) & (r < 0.1)] = [f"  {v} " for v in out[(r >= 0.05) & (r < 0.1)]]
    return out


def write_reference_sources(out_dir: str, seed: int) -> dict:
    """Write ``clients.csv``, ``achats.csv`` and ``expected.json``."""
    rng = np.random.default_rng(seed)
    n_clients = N_CLIENTS
    os.makedirs(out_dir, exist_ok=True)

    # --- clients -----------------------------------------------------------
    ids = np.arange(1, n_clients + 1)
    c_dirt = _pick(rng, n_clients, CLIENT_DIRT)
    names = np.array([f"{FIRST[a]} {LAST[b]}" for a, b in
                      zip(rng.integers(0, len(FIRST), n_clients),
                          rng.integers(0, len(LAST), n_clients))], dtype=object)
    emails = np.array([f"{n.split()[0].lower()}.{i}@mail.example" for n, i in zip(names, ids)],
                      dtype=object)
    upper = rng.random(n_clients) < 0.05
    emails[upper] = [e.upper() for e in emails[upper]]
    span = (REF_DATE - dt.timedelta(days=30) - (REF_DATE - dt.timedelta(days=3 * 365))).days
    signup = [(REF_DATE - dt.timedelta(days=3 * 365) + dt.timedelta(days=int(d))).isoformat()
              for d in rng.integers(0, span + 1, n_clients)]
    clients = pd.DataFrame({
        "id_client": ids.astype(str).astype(object),
        "nom": _pad_case(rng, names),
        "email": emails,
        "date_inscription": np.array(signup, dtype=object),
        "pays": _pad_case(rng, np.array(COUNTRIES, dtype=object)[
            rng.integers(0, len(COUNTRIES), n_clients)]),
    })
    m = c_dirt == "bad_id"
    clients.loc[m, "id_client"] = [f"C{i}x" for i in range(int(m.sum()))]
    m = c_dirt == "missing_field"
    col = rng.choice(["nom", "pays"], int(m.sum()))
    for i, c in zip(np.flatnonzero(m), col):
        clients.at[i, c] = None
    clients.loc[c_dirt == "bad_date", "date_inscription"] = "not-a-date"
    clients.loc[c_dirt == "old_date", "date_inscription"] = "1995-05-05"
    m = c_dirt == "future_date"
    clients.loc[m, "date_inscription"] = [
        (REF_DATE + dt.timedelta(days=int(d))).isoformat()
        for d in rng.integers(10, 300, int(m.sum()))]
    m = c_dirt == "bad_email"
    clients.loc[m, "email"] = [e.replace("@", "") for e in clients.loc[m, "email"]]
    # duplicates: valid copies of clean rows with a different payload
    dup_src = rng.choice(np.flatnonzero(c_dirt == ""), int((c_dirt == "dup_id").sum()),
                         replace=False)
    dups = clients.iloc[dup_src].copy()
    dups["nom"] = dups["nom"].map(lambda v: f"{v} bis" if v is not None else "bis")
    clients = clients[c_dirt != "dup_id"]
    clients = pd.concat([clients, dups]).sample(frac=1.0, random_state=seed % 2**32)
    clients_dirt = np.concatenate([c_dirt[c_dirt != "dup_id"], np.full(len(dups), "dup_id")])

    # clients surviving silver: the valid, deduplicated ids
    keep_c = ~np.isin(c_dirt, ["bad_id", "bad_date", "old_date", "future_date",
                               "bad_email", "dup_id"])
    valid_clients = set(ids[keep_c].tolist())

    # --- achats ------------------------------------------------------------
    per_client = rng.integers(1, 31, n_clients)
    owner = np.repeat(ids, per_client)
    n_a = len(owner)
    a_dirt = _pick(rng, n_a, ACHAT_DIRT)
    secs = rng.integers(0, 365 * 86400, n_a)
    t_end = dt.datetime.combine(REF_DATE, dt.time(23, 59, 59))
    when = pd.to_datetime(t_end) - pd.to_timedelta(secs, unit="s")
    achats = pd.DataFrame({
        "id_achat": np.arange(1, n_a + 1).astype(str).astype(object),
        "id_client": owner.astype(str).astype(object),
        "date_achat": when.strftime("%Y-%m-%d %H:%M:%S").astype(object),
        "montant": np.char.mod("%.2f", np.round(rng.uniform(10, 500, n_a), 2)).astype(object),
        "produit": _pad_case(rng, np.array(PRODUCTS, dtype=object)[
            rng.integers(0, len(PRODUCTS), n_a)]),
    })
    m = a_dirt == "bad_id"
    which = rng.random(int(m.sum())) < 0.5
    rows = np.flatnonzero(m)
    achats.loc[rows[which], "id_achat"] = "A-bad"
    achats.loc[rows[~which], "id_client"] = "unknown"
    achats.loc[a_dirt == "bad_date", "date_achat"] = "31/31/2024"
    achats.loc[a_dirt == "old_date", "date_achat"] = "1998-03-03 10:00:00"
    m = a_dirt == "future_date"
    achats.loc[m, "date_achat"] = [
        f"{(REF_DATE + dt.timedelta(days=int(d))).isoformat()} 12:00:00"
        for d in rng.integers(10, 300, int(m.sum()))]
    m = a_dirt == "bad_amount"
    achats.loc[m, "montant"] = rng.choice(["-5.00", "0", "15000.50", "abc"], int(m.sum()))
    achats.loc[a_dirt == "bad_product", "produit"] = None
    m = a_dirt == "orphan"
    achats.loc[m, "id_client"] = (n_clients + 1000 + np.arange(int(m.sum()))).astype(str)
    # duplicates: valid copies (same id and owner) with another amount
    dup_src = rng.choice(np.flatnonzero(a_dirt == ""), int((a_dirt == "dup_id").sum()),
                         replace=False)
    dups = achats.iloc[dup_src].copy()
    dups["montant"] = np.char.mod("%.2f", np.round(rng.uniform(10, 500, len(dups)), 2))
    achats = achats[a_dirt != "dup_id"]
    achats = pd.concat([achats, dups]).sample(frac=1.0, random_state=(seed + 1) % 2**32)
    achats_dirt = np.concatenate([a_dirt[a_dirt != "dup_id"], np.full(len(dups), "dup_id")])

    row_ok = ~np.isin(a_dirt, ["bad_id", "bad_date", "old_date", "future_date",
                               "bad_amount", "bad_product", "orphan", "dup_id"])
    keep_a = row_ok & np.isin(owner, list(valid_clients))

    clients.to_csv(os.path.join(out_dir, "clients.csv"), index=False)
    achats.to_csv(os.path.join(out_dir, "achats.csv"), index=False)

    def n(d, k):
        return int((d == k).sum())

    expected = {
        "ref_date": REF_DATE.isoformat(),
        "max_date": MAX_DATE.isoformat(),
        "raw_rows": {"clients": len(clients), "achats": len(achats)},
        "rows_out": {"clients": len(valid_clients), "achats": int(keep_a.sum())},
        # silver.quality_audit counters over the RAW tables
        "audit": {
            "clients": {
                "initial_rows": len(clients),
                "dropped_bad_id": n(clients_dirt, "bad_id"),
                "dropped_bad_date": n(clients_dirt, "bad_date"),
                "dropped_bad_email": n(clients_dirt, "bad_email"),
            },
            "achats": {
                "initial_rows": len(achats),
                "dropped_bad_id": n(achats_dirt, "bad_id"),
                "dropped_bad_date": n(achats_dirt, "bad_date"),
                "dropped_bad_amount": n(achats_dirt, "bad_amount"),
                "dropped_bad_product": n(achats_dirt, "bad_product"),
            },
        },
    }
    with open(os.path.join(out_dir, "expected.json"), "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)
    return expected


WORDS = ("the fast key order sort table scan merge part window small hash join "
         "batch stream spark group query row data slow filter customer line "
         "value agg column a big vector").split()


def write_corpus(out_dir: str, seed: int) -> dict[str, int]:
    """Write the TPC-H-ish corpus; returns {table: rows}."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_ord, n_line = int(150_000 * SF), int(1_500_000 * SF), int(6_000_000 * SF)
    n_part, n_supp = int(200_000 * SF), max(10, int(10_000 * SF))
    n_events, n_users = int(1_000_000 * SF), int(15_000 * SF)
    n_docs, n_vecs = 500, 500
    day0 = np.datetime64("1995-01-01")

    tables: dict[str, pd.DataFrame] = {}
    tables["region"] = pd.DataFrame({
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    tables["nation"] = pd.DataFrame({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32)})
    tables["customer"] = pd.DataFrame({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], n_cust)})
    tables["supplier"] = pd.DataFrame({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)})
    adj = np.array(["small", "large", "red", "blue", "old", "new", "hot", "cold"])
    noun = np.array(["widget", "bolt", "gear", "ring", "plate", "anvil", "gizmo", "rod"])
    tables["part"] = pd.DataFrame({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": np.char.add(np.char.add(rng.choice(adj, n_part), " "),
                              rng.choice(noun, n_part)),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": rng.choice(["ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD", "LARGE"],
                             n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 200) * 0.1, 2)})
    tables["orders"] = pd.DataFrame({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": np.round(rng.uniform(1000, 500_000, n_ord), 2),
        "o_orderdate": (day0 + rng.integers(0, 2405, n_ord).astype("timedelta64[D]"))
        .astype("datetime64[us]"),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], n_ord)})
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    tables["lineitem"] = pd.DataFrame({
        "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(18, 2100, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": (day0 + rng.integers(1, 2500, n_line).astype("timedelta64[D]"))
        .astype("datetime64[us]")})
    ts = np.sort(np.datetime64("2024-01-01T00:00:00", "us")
                 + rng.integers(0, 30 * 86400 * 10**6, n_events).astype("timedelta64[us]"))
    tables["events"] = pd.DataFrame({
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": ts,
        "user_id": rng.integers(0, n_users, n_events).astype(np.int64),
        "event_type": rng.choice(["click", "purchase", "error", "signup", "view"], n_events),
        "value": np.round(rng.exponential(60, n_events) + 0.01, 2),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_events)]})

    # documents: random word strings; ~5% near-duplicates of an earlier doc
    texts: list[str] = []
    for i in range(n_docs):
        if i > 20 and rng.random() < 0.05:
            words = texts[int(rng.integers(0, i))].split()
            for j in rng.integers(0, len(words), max(1, len(words) // 20)):
                words[j] = "dup"
        else:
            words = list(rng.choice(WORDS, int(rng.integers(8, 100))))
        texts.append(" ".join(words))
    tables["documents"] = pd.DataFrame({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(["en", "en", "fr", "es", "de", "zh"], n_docs),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})

    # embeddings: unit vectors around 10 cluster centres
    centres = rng.normal(size=(10, 64))
    label = rng.integers(0, 10, n_vecs)
    vec = centres[label] * 0.35 + rng.normal(size=(n_vecs, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    tables["embeddings"] = pd.DataFrame({
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": list(vec),
        "label": label.astype(np.int32)})

    for name, df in tables.items():
        df.to_parquet(os.path.join(out_dir, f"{name}.parquet"), index=False)
    return {name: len(df) for name, df in tables.items()}
