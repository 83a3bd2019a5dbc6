"""Incremental streaming dedup: history-known and within-stream duplicates
must both be dropped; only genuinely new documents survive."""

from __future__ import annotations

import json

from pyspark.sql.types import LongType, StringType, StructField, StructType

from odp_dynamic_data_pipeline_spark.operators.text import fingerprint
from odp_dynamic_data_pipeline_spark.sources.readers import read_file_stream
from odp_dynamic_data_pipeline_spark.streaming import run_available_now
from odp_dynamic_data_pipeline_spark.streaming.stream import dedup_incremental

DOC_SCHEMA = StructType(
    [StructField("doc_id", LongType()), StructField("text", StringType())]
)


def test_incremental_dedup_closed_loop(spark, tmp_path):
    """Cross-batch dedup through the growing fingerprint store: a batch-2
    duplicate of a batch-1 document must be dropped."""
    import os
    import time

    from odp_dynamic_data_pipeline_spark.streaming.stream import run_incremental_dedup

    d = tmp_path / "loop_in"
    d.mkdir()
    now = time.time()
    b1 = [{"doc_id": 1, "text": "alpha body"}, {"doc_id": 2, "text": "beta body"}]
    b2 = [{"doc_id": 3, "text": "ALPHA   body"}, {"doc_id": 4, "text": "gamma body"}]
    for name, rows, mt in [("b1.json", b1, now - 60), ("b2.json", b2, now - 30)]:
        p = d / name
        with open(p, "w") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")
        os.utime(p, (mt, mt))

    stream = read_file_stream(
        spark, str(d), DOC_SCHEMA, multiline=False, max_files_per_trigger=1
    )
    run_incremental_dedup(
        stream,
        store_path=str(tmp_path / "store"),
        out_path=str(tmp_path / "clean"),
        checkpoint=str(tmp_path / "ck_loop"),
    )
    survivors = {r["doc_id"] for r in spark.read.parquet(str(tmp_path / "clean")).collect()}
    assert survivors == {1, 2, 4}  # doc 3 is a normalized dup of doc 1 from batch 1
    store = spark.read.parquet(str(tmp_path / "store")).count()
    assert store == 3


def test_incremental_dedup(spark, tmp_path):
    d = tmp_path / "in"
    d.mkdir()
    docs = [
        {"doc_id": 1, "text": "known document body"},     # already in history
        {"doc_id": 2, "text": "fresh document one"},
        {"doc_id": 3, "text": "Fresh   Document ONE"},    # normalized dup of 2
        {"doc_id": 4, "text": "fresh document two"},
    ]
    with open(d / "batch.json", "w") as f:
        for r in docs:
            f.write(json.dumps(r) + "\n")

    history = fingerprint(
        spark.createDataFrame([(0, "Known  document BODY")], "doc_id long, text string")
    ).select("fingerprint")

    stream = read_file_stream(spark, str(d), DOC_SCHEMA, multiline=False)
    fresh = dedup_incremental(stream, history)
    run_available_now(fresh, query_name="fresh_docs", checkpoint=str(tmp_path / "ck"))
    survivors = {r["doc_id"] for r in spark.sql("select * from fresh_docs").collect()}
    # doc 1 dropped (history), exactly one of {2,3} survives, doc 4 survives
    assert 1 not in survivors
    assert 4 in survivors
    assert len(survivors & {2, 3}) == 1 and len(survivors) == 2


def test_incremental_neardup_cross_batch(spark, tmp_path):
    """Streaming near-dup: batch 1 contains near-identical docs A/B (pair
    emitted batch-internally); batch 2 brings C, a near-dup of A (pair must
    be found against the HISTORICAL store), and unique D (no pair)."""
    import json as _json
    import os as _os
    import time as _time

    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from odp_dynamic_data_pipeline_spark.sources.readers import read_file_stream
    from odp_dynamic_data_pipeline_spark.streaming.stream import run_incremental_neardup

    base = " ".join(f"w{i}" for i in range(40))
    near = " ".join(f"w{i}" for i in range(38)) + " x1 x2"   # high jaccard vs base
    uniq = " ".join(f"z{i}" for i in range(40))

    d = tmp_path / "nd_in"
    d.mkdir()
    now = _time.time()
    b1 = [{"doc_id": 1, "text": base}, {"doc_id": 2, "text": near}]
    b2 = [{"doc_id": 3, "text": base + " tail"}, {"doc_id": 4, "text": uniq}]
    for name, rows, mt in [("b1.json", b1, now - 60), ("b2.json", b2, now - 30)]:
        p = d / name
        with open(p, "w") as f:
            for r in rows:
                f.write(_json.dumps(r) + "\n")
        _os.utime(p, (mt, mt))

    schema = StructType(
        [StructField("doc_id", LongType()), StructField("text", StringType())]
    )
    stream = read_file_stream(spark, str(d), schema, multiline=False, max_files_per_trigger=1)
    store, out = str(tmp_path / "nd_store"), str(tmp_path / "nd_out")
    run_incremental_neardup(
        stream, store, out, checkpoint=str(tmp_path / "nd_ck"), threshold_e6=300_000
    )
    got = {
        (r["id_a"], r["id_b"])
        for r in spark.read.parquet(out).select("id_a", "id_b").collect()
    }
    assert (1, 2) in got          # batch-internal pair
    assert (1, 3) in got          # cross-batch pair via the store
    assert not any(4 in p for p in got)  # unique doc pairs with nothing
    # the LSH index accreted one partition per batch
    assert sorted(_os.listdir(f"{store}/buckets")) == ["batch_id=0", "batch_id=1"]


def test_compact_incremental_store_preserves_dedup(spark, tmp_path):
    """Compacting the fingerprint store folds batch partitions into the
    batch_id=-1 baseline; a later streaming run still dedups against it."""
    import json as _json
    import os as _os
    import time as _time

    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from odp_dynamic_data_pipeline_spark.sources.readers import read_file_stream
    from odp_dynamic_data_pipeline_spark.streaming.stream import (
        compact_incremental_store,
        run_incremental_dedup,
    )

    schema = StructType(
        [StructField("doc_id", LongType()), StructField("text", StringType())]
    )
    d = tmp_path / "cmp_in"
    d.mkdir()
    now = _time.time()

    def _write(name, rows, mt):
        p = d / name
        with open(p, "w") as f:
            for r in rows:
                f.write(_json.dumps(r) + "\n")
        _os.utime(p, (mt, mt))

    _write("b1.json", [{"doc_id": 1, "text": "alpha beta"}], now - 90)
    _write("b2.json", [{"doc_id": 2, "text": "gamma delta"}], now - 60)
    store, out, ck = str(tmp_path / "cmp_store"), str(tmp_path / "cmp_out"), str(tmp_path / "cmp_ck")
    # a store no batch has written yet folds nothing
    assert compact_incremental_store(spark, store) == 0

    def _run():
        s = read_file_stream(spark, str(d), schema, multiline=False, max_files_per_trigger=1)
        run_incremental_dedup(s, store, out, checkpoint=ck)

    _run()
    assert len([p for p in _os.listdir(store) if p.startswith("batch_id=")]) == 2
    folded = compact_incremental_store(spark, store)
    assert folded == 2
    assert _os.listdir(store) == ["batch_id=-1"] or sorted(
        p for p in _os.listdir(store) if p.startswith("batch_id=")
    ) == ["batch_id=-1"]
    # a repeat of doc 1's text arriving later must STILL be dropped
    _write("b3.json", [{"doc_id": 9, "text": "alpha beta"}, {"doc_id": 10, "text": "new one"}], now - 30)
    _run()
    survivors = {r["doc_id"] for r in spark.read.parquet(out).select("doc_id").collect()}
    assert 10 in survivors and 9 not in survivors


def test_incremental_neardup_stream_equals_batch(spark):
    """The registry's streaming-vs-batch agreement report must be a hard
    equality: one AvailableNow batch sees no store history, so the
    streaming LSH pair set (including jaccards) == minhash_lsh_pairs."""
    from odp_dynamic_data_pipeline_spark.queries import SPARK_QUERIES

    row = SPARK_QUERIES["incremental_neardup_stream"](
        spark, "/root/testdata/sf0.001"
    ).collect()[0]
    assert row["n_stream"] > 0
    assert (
        row["n_stream"] == row["n_batch"] == row["n_common"] == row["n_jaccard_equal"]
    ), dict(row.asDict())


def test_incremental_neardup_md5_cross_batch(spark, tmp_path):
    """hasher='md5' mode: same crafted two-batch scenario as the xxhash
    twin (batch-internal pair, cross-batch pair via the store, unique doc
    pairs with nothing), driving the engine-portable md5 minhash family
    end-to-end through the incremental store protocol."""
    import json as _json
    import os as _os
    import time as _time

    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from odp_dynamic_data_pipeline_spark.sources.readers import read_file_stream
    from odp_dynamic_data_pipeline_spark.streaming.stream import run_incremental_neardup

    base = " ".join(f"w{i}" for i in range(40))
    near = " ".join(f"w{i}" for i in range(38)) + " x1 x2"
    uniq = " ".join(f"z{i}" for i in range(40))

    d = tmp_path / "ndm_in"
    d.mkdir()
    now = _time.time()
    b1 = [{"doc_id": 1, "text": base}, {"doc_id": 2, "text": near}]
    b2 = [{"doc_id": 3, "text": base + " tail"}, {"doc_id": 4, "text": uniq}]
    for name, rows, mt in [("b1.json", b1, now - 60), ("b2.json", b2, now - 30)]:
        p = d / name
        with open(p, "w") as f:
            for r in rows:
                f.write(_json.dumps(r) + "\n")
        _os.utime(p, (mt, mt))

    schema = StructType(
        [StructField("doc_id", LongType()), StructField("text", StringType())]
    )
    stream = read_file_stream(spark, str(d), schema, multiline=False, max_files_per_trigger=1)
    store, out = str(tmp_path / "ndm_store"), str(tmp_path / "ndm_out")
    run_incremental_neardup(
        stream, store, out, checkpoint=str(tmp_path / "ndm_ck"),
        num_perm=16, bands=4, threshold_e6=300_000, hasher="md5",
    )
    rows = spark.read.parquet(out).select("id_a", "id_b", "jaccard_e6").collect()
    got = {(r["id_a"], r["id_b"]): r["jaccard_e6"] for r in rows}
    assert (1, 2) in got and got[(1, 2)] >= 300_000
    assert (1, 3) in got          # cross-batch via the md5-band store
    assert not any(4 in p for p in got)


def test_md5_minhash_signatures_match_oracle_algebra(spark):
    """The Spark fold-based md5 signature equals a direct per-permutation
    python computation with the same MINHASH_AB constants."""
    from odp_dynamic_data_pipeline_spark.operators.dedup import (
        MINHASH_AB,
        MINHASH_P,
        md5_hashed_shingles,
        md5_minhash_signatures,
    )

    df = spark.createDataFrame(
        [(1, "a b c d e f")], "doc_id long, text string"
    )
    hashed = md5_hashed_shingles(df, "doc_id")
    hs = hashed.collect()[0]["hsh"]
    import hashlib

    # recompute the shingle hashes in pure python
    toks = "a b c d e f".split()
    want_h = sorted(
        {
            int(hashlib.md5(" ".join(toks[i : i + 3]).encode()).hexdigest()[:15], 16)
            % MINHASH_P
            for i in range(len(toks) - 2)
        }
    )
    assert sorted(hs) == want_h
    sig = md5_minhash_signatures(hashed, "doc_id").collect()[0]
    for i, (a, b) in enumerate(MINHASH_AB):
        assert sig[f"mh_{i}"] == min((a * h + b) % MINHASH_P for h in want_h)
