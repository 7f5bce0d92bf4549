"""The `pipeline` CLI subcommand: one COMMAND from a document corpus to
token-budgeted training shards (`cli._pipeline_main` fronting
`corpus.crawl_to_shards`), plus the dispatch rule that keeps the
reference-compatible `file [table]` positional form intact."""

from __future__ import annotations

import os

import pytest

from hive_serde_schema_gen_spark.cli import main


@pytest.fixture(scope="module")
def driven(spark, sf_dir, tmp_path_factory, capsys_module=None):
    out = str(tmp_path_factory.mktemp("cli") / "shards")
    rc = main(
        [
            "pipeline", sf_dir, out,
            "--total-tokens", "50000",
            "--n-shards", "2",
            "--max-dup-gram-frac", "0.95",
            "--hash-fn", "md5",
        ]
    )
    return rc, out


def test_pipeline_exits_zero_and_writes_shards(driven, spark):
    rc, out = driven
    assert rc == 0
    # one sorted file per shard, loader-ready (the write_training_shards
    # contract), under shard= partition dirs
    shards = sorted(
        d for d in os.listdir(out) if d.startswith("shard=")
    )
    assert shards == ["shard=0", "shard=1"]
    got = spark.read.parquet(out)
    assert got.count() > 0


def test_pipeline_bad_alpha_is_a_clean_error():
    with pytest.raises(SystemExit):
        main(["pipeline", "in", "out", "--total-tokens", "10",
              "--alpha", "nonsense"])


def test_pipeline_missing_input_fails_cleanly(tmp_path):
    rc = main([
        "pipeline", str(tmp_path / "nope"), str(tmp_path / "out"),
        "--total-tokens", "10",
    ])
    assert rc == 1


def test_schema_gen_dispatch_unaffected(tmp_path, capsys):
    # the positional form still schema-gens (the reference contract);
    # only the literal token "pipeline" routes to the pipeline
    nd = tmp_path / "rows.json"
    nd.write_text('{"a": 1}\n{"a": 2}\n')
    rc = main([str(nd), "t"])
    assert rc == 0
    assert "CREATE TABLE t (" in capsys.readouterr().out


def test_media_dedup_command(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    from hive_serde_schema_gen_spark.operators.media_core import _bmp_encode

    base = _bmp_encode(1, b"the one true image body, with pixels")
    rows = [(1, base), (2, base),
            (4, _bmp_encode(4, b"a completely different image payload")),
            (5, b"NOTABMP")]
    ids, pays = zip(*rows)
    src = tmp_path / "in.parquet"
    pq.write_table(
        pa.table({"img_id": pa.array(ids, pa.int64()),
                  "payload": pa.array(list(pays), pa.binary())}),
        str(src),
    )
    out = tmp_path / "out"
    rc = main(["media-dedup", str(src), str(out), "--modality", "image",
               "--strategy", "anchor"])
    assert rc == 0
    kept = {r["img_id"] for r in spark.read.parquet(f"{out}/kept").collect()}
    attr = {r["img_id"]: (r["dup_of"], r["stage"])
            for r in spark.read.parquet(f"{out}/attribution").collect()}
    drop = {r["img_id"]
            for r in spark.read.parquet(f"{out}/dropped").collect()}
    assert kept == {1, 4} and attr == {2: (1, "byte")} and drop == {5}
