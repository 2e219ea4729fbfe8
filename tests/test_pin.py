"""Scale-pin harness (tools/pin.py): the table matches the committed
artifacts, and one pin runs end to end."""

import glob
import json
import os
import re

from tests.conftest import SF_SMOKE
from tools import pin

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _artifact(name):
    with open(os.path.join(ROOT, pin.PINS[name].artifact), encoding="utf-8") as fh:
        return json.load(fh)


def test_table_matches_committed_artifacts():
    committed = {os.path.basename(p) for p in glob.glob(os.path.join(ROOT, "*PIN.json"))}
    assert {row.artifact for row in pin.PINS.values()} == committed
    for name in pin.PINS:
        art = _artifact(name)
        extra = {k: art[k] for k in art if k == "knn_bucket_audit"}
        doc = pin.document(name, art["sf_dir"], art["factors"], art["points"],
                           extra, art["elapsed_s"], art["host_load1"])
        assert set(doc) == set(art), name
        # the derived claim reproduces the committed one from its points
        assert doc.get("claim") == art.get("claim"), name


def test_loader_pin_end_to_end(spark, tmp_path):
    out = tmp_path / "LOADERPIN.json"
    pin.main(["loader", "--factors", "1", "--sf", SF_SMOKE, "--out", str(out)])
    doc = json.loads(out.read_text(encoding="utf-8"))
    assert set(doc) == set(_artifact("loader"))
    assert doc["factors"] == [1] and doc["sf_dir"] == SF_SMOKE
    pattern = re.compile(
        r"loaderpin_(?:(?:pack|epoch)_x1(?:_out_rows)?|x1_(?:rows|window_rows))"
    )
    assert len(doc["points"]) == 6
    assert all(pattern.fullmatch(k) for k in doc["points"]), sorted(doc["points"])
    pts = doc["points"]
    assert pts["loaderpin_epoch_x1_out_rows"] == 2 * pts["loaderpin_x1_rows"]
    assert 0 < pts["loaderpin_x1_window_rows"] <= 256
