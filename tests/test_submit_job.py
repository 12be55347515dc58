"""``scripts/submit_job.py`` run in process: ``decode --zone`` hands its
bounds to ``decode_table`` as given, which types them by the column."""

import importlib.util
import json
import os
import sys

import pytest

from colonnade_spark import engine
from colonnade_spark.plan import plan

SCRIPT = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                      "scripts", "submit_job.py")
N_ROWS = 600


def _main():
    spec = importlib.util.spec_from_file_location("submit_job", SCRIPT)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.main


@pytest.fixture(scope="module")
def zone_wh(spark, tmp_path_factory):
    langs = ["de", "en", "es", "fr", "zh"]
    rows = [(i, langs[i * len(langs) // N_ROWS], f"body {i} " * 10)
            for i in range(N_ROWS)]
    df = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    p = (plan().headed("doc_id").headed("lang").headed("text")
         .with_keys("doc_id").with_cluster("lang", "doc_id"))
    wh = str(tmp_path_factory.mktemp("submit") / "wh")
    engine.encode_table(spark, df, p, wh, n_buckets=2, stripe_bytes=8 << 10,
                        input_token="submit-zone")
    return wh


@pytest.mark.parametrize("zones, zone_filter", [
    (["doc_id:100:180"], [("doc_id", 100, 180)]),
    (["lang:en:es"], [("lang", "en", "es")]),
    (["lang:en:en", "doc_id:130:150"], [("lang", "en", "en"), ("doc_id", 130, 150)]),
])
def test_decode_zone_matches_decode_table(spark, zone_wh, monkeypatch, capsys,
                                          zones, zone_filter):
    argv = ["submit_job.py", "decode", "--warehouse", zone_wh]
    for z in zones:
        argv += ["--zone", z]
    monkeypatch.setattr(sys, "argv", argv)
    assert _main()() == 0
    echo = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert echo["zone_filter"] == [z.split(":") for z in zones]
    got = sorted(map(tuple, spark.read.parquet(echo["decoded_to"]).collect()))
    want = engine.decode_table(spark, zone_wh, zone_filter=zone_filter).collect()
    assert got == sorted(map(tuple, want))
    assert 0 < len(got) < N_ROWS           # the zone maps pruned stripes
