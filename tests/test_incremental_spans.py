"""run_incremental_spans: ingest-gate ExactSubstr -- one-sided cross-batch
semantics (new docs span-checked against history, history never
retro-flagged), within-batch duplication, retry-ghost exclusion."""

from __future__ import annotations

import json
import os
import time

from pyspark.sql.types import LongType, StringType, StructField, StructType

from odp_dynamic_data_pipeline_spark.sources.readers import read_file_stream
from odp_dynamic_data_pipeline_spark.streaming.stream import run_incremental_spans

SCHEMA = StructType(
    [StructField("doc_id", LongType()), StructField("text", StringType())]
)


def _write_batches(tmp_path, batches):
    d = tmp_path / "sp_in"
    d.mkdir()
    now = time.time()
    for i, rows in enumerate(batches):
        p = d / f"b{i}.json"
        with open(p, "w") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")
        os.utime(p, (now - 60 + 30 * i, now - 60 + 30 * i))
    return str(d)


def _words(prefix, n):
    return " ".join(f"{prefix}{i}" for i in range(n))


def _run(spark, tmp_path, batches, **kw):
    src = _write_batches(tmp_path, batches)
    stream = read_file_stream(
        spark, src, SCHEMA, multiline=False, max_files_per_trigger=1
    )
    store, out = str(tmp_path / "sp_store"), str(tmp_path / "sp_out")
    run_incremental_spans(
        stream, store, out, checkpoint=str(tmp_path / "sp_ck"), **kw
    )
    acc = spark.read.parquet(out)
    return {
        (r.doc_id, r.span_start, r.span_end, r.span_tokens, int(r.batch_id))
        for r in acc.collect()
    }, store


def test_one_sided_cross_batch_semantics(spark, tmp_path):
    passage = _words("p", 10)
    # batch 0: doc 1 carries the passage (first occurrence -- clean),
    #          doc 2 is unique
    # batch 1: doc 3 re-carries the passage -> doc 3 IS flagged via the
    #          store; doc 1 is NEVER retro-flagged
    b0 = [
        {"doc_id": 1, "text": _words("a", 2) + " " + passage},
        {"doc_id": 2, "text": _words("u", 12)},
    ]
    b1 = [{"doc_id": 3, "text": passage + " " + _words("z", 3)}]
    got, _ = _run(spark, tmp_path, [b0, b1], min_tokens=8)
    assert got == {(3, 1, 10, 10, 1)}


def test_within_batch_duplication_flags_both(spark, tmp_path):
    run = _words("r", 8)
    b0 = [
        {"doc_id": 1, "text": run + " " + _words("x", 2)},
        {"doc_id": 2, "text": _words("y", 2) + " " + run},
    ]
    got, _ = _run(spark, tmp_path, [b0], min_tokens=8)
    assert got == {(1, 1, 8, 8, 0), (2, 3, 10, 8, 0)}


def test_retry_excludes_own_ghost_partition(spark, tmp_path):
    # the store already holds THIS batch's window counts under batch_id=0
    # (a failed attempt): the retry must not count the batch against its
    # own ghost, so a clean first-occurrence doc stays unflagged
    from pyspark.sql import functions as F

    from odp_dynamic_data_pipeline_spark.operators.text import token_windows

    passage = _words("p", 9)
    rows = [{"doc_id": 1, "text": passage}]
    store = str(tmp_path / "sp_store")
    ghost = token_windows(
        spark.createDataFrame([(1, passage)], "doc_id long, text string"),
        "text", min_tokens=8,
    ).groupBy("wh").agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    ghost.write.mode("overwrite").parquet(f"{store}/whc/batch_id=0")
    src = _write_batches(tmp_path, [rows])
    stream = read_file_stream(spark, src, SCHEMA, multiline=False)
    out = str(tmp_path / "sp_out")
    run_incremental_spans(
        stream, store, out, checkpoint=str(tmp_path / "sp_ck"), min_tokens=8
    )
    assert spark.read.parquet(out).count() == 0


def test_store_accretes_batch_keyed_aggregated(spark, tmp_path):
    # store holds (wh, cnt) COUNTS, batch-keyed: one row per distinct
    # window hash of the batch, never positions
    b0 = [{"doc_id": 1, "text": _words("a", 10) + " " + _words("a", 10)}]
    b1 = [{"doc_id": 2, "text": _words("b", 10)}]
    _, store = _run(spark, tmp_path, [b0, b1], min_tokens=8)
    assert sorted(os.listdir(f"{store}/whc")) == ["batch_id=0", "batch_id=1"]
    s0 = spark.read.parquet(f"{store}/whc/batch_id=0")
    assert set(s0.columns) == {"wh", "cnt"}
    rows = {r.wh: r.cnt for r in s0.collect()}
    # doc 1 is "a0..a9 a0..a9": 13 window positions but the repetition
    # collapses -- some hashes carry cnt 2, and the store has FEWER rows
    # than positions (the aggregation is what shrinks it)
    assert sum(rows.values()) == 13 and len(rows) < 13
    assert max(rows.values()) == 2


def test_legacy_wins_store_migrates_and_counts(spark, tmp_path):
    # a pre-r9 raw (id, pos, wh) store under {store}/wins is folded into
    # the (wh, cnt) layout before the first batch, then deleted -- and
    # the migrated history still gates new arrivals.  Migration preserves
    # batch keying (the upgrade path continues the SAME checkpoint, so
    # history ids never collide with future ids); the legacy history here
    # sits at batch_id=7 -- a fresh checkpoint restarting at 0 would treat
    # a batch_id=0 store partition as its own retry ghost, exactly like
    # the non-migrated layout would
    from odp_dynamic_data_pipeline_spark.operators.text import token_windows

    passage = _words("p", 10)
    store = str(tmp_path / "sp_store")
    legacy = token_windows(
        spark.createDataFrame([(1, passage)], "doc_id long, text string"),
        "text", min_tokens=8,
    )
    legacy.write.mode("overwrite").parquet(f"{store}/wins/batch_id=7")
    # new arrival re-carries the passage -> flagged via migrated history
    b1 = [{"doc_id": 3, "text": passage + " " + _words("z", 3)}]
    src = _write_batches(tmp_path, [b1])
    stream = read_file_stream(spark, src, SCHEMA, multiline=False)
    out = str(tmp_path / "sp_out")
    run_incremental_spans(
        stream, store, out, checkpoint=str(tmp_path / "sp_ck"), min_tokens=8
    )
    got = {
        (r.doc_id, r.span_start, r.span_end)
        for r in spark.read.parquet(out).collect()
    }
    assert got == {(3, 1, 10)}
    assert not os.path.exists(f"{store}/wins")
    parts = sorted(p for p in os.listdir(f"{store}/whc") if p.startswith("batch_id="))
    assert parts == ["batch_id=0", "batch_id=7"]


def test_store_compaction_mid_stream_output_unchanged(spark, tmp_path):
    # fold the count store into the batch_id=-1 baseline between
    # AvailableNow runs: later batches must still count historical windows
    from odp_dynamic_data_pipeline_spark.streaming.stream import (
        compact_incremental_count_store,
    )

    passage = _words("p", 9)
    b0 = [{"doc_id": 1, "text": passage}]
    b1 = [{"doc_id": 2, "text": _words("x", 2) + " " + passage}]
    src = _write_batches(tmp_path, [b0])
    store, out, ck = (
        str(tmp_path / "sp_store"),
        str(tmp_path / "sp_out"),
        str(tmp_path / "sp_ck"),
    )
    # a store no batch has written yet folds nothing
    assert compact_incremental_count_store(spark, f"{store}/whc", ["wh"]) == 0
    stream = read_file_stream(spark, src, SCHEMA, multiline=False)
    run_incremental_spans(stream, store, out, checkpoint=ck, min_tokens=8)
    assert compact_incremental_count_store(spark, f"{store}/whc", ["wh"]) == 1
    assert os.listdir(f"{store}/whc") == ["batch_id=-1"]
    # drop 2: doc 2 must pair against the COMPACTED baseline
    p = os.path.join(src, "b1.json")
    with open(p, "w") as f:
        for r in b1:
            f.write(json.dumps(r) + "\n")
    stream2 = read_file_stream(spark, src, SCHEMA, multiline=False)
    run_incremental_spans(stream2, store, out, checkpoint=ck, min_tokens=8)
    got = {
        (r.doc_id, r.span_start, r.span_end)
        for r in spark.read.parquet(out).collect()
    }
    assert got == {(2, 3, 11)}  # doc 1 stays unflagged (one-sided), doc 2 flagged


def test_compaction_sums_counts_across_batches(spark, tmp_path):
    # min_count=3: the passage occurs once in b0 and once in b1 (below
    # gate), the store is compacted (must fold to cnt=2 -- a distinct
    # fold would collapse the two equal (wh,1) rows to one), then b2's
    # third occurrence crosses the gate and is flagged
    from odp_dynamic_data_pipeline_spark.streaming.stream import (
        compact_incremental_count_store,
    )

    passage = _words("p", 8)
    store, out, ck = (
        str(tmp_path / "c_store"),
        str(tmp_path / "c_out"),
        str(tmp_path / "c_ck"),
    )
    src = _write_batches(
        tmp_path, [[{"doc_id": 1, "text": passage}], [{"doc_id": 2, "text": passage}]]
    )
    stream = read_file_stream(
        spark, src, SCHEMA, multiline=False, max_files_per_trigger=1
    )
    run_incremental_spans(stream, store, out, checkpoint=ck, min_tokens=8, min_count=3)
    assert spark.read.parquet(out).count() == 0  # both below the gate
    assert compact_incremental_count_store(spark, f"{store}/whc", ["wh"]) == 2
    folded = {r.wh: r.cnt for r in spark.read.parquet(f"{store}/whc").collect()}
    assert set(folded.values()) == {2}  # summed, not distinct-collapsed
    import json as _json

    p = os.path.join(src, "b2.json")
    with open(p, "w") as f:
        f.write(_json.dumps({"doc_id": 3, "text": passage}) + "\n")
    stream2 = read_file_stream(spark, src, SCHEMA, multiline=False)
    run_incremental_spans(stream2, store, out, checkpoint=ck, min_tokens=8, min_count=3)
    got = {
        (r.doc_id, r.span_start, r.span_end)
        for r in spark.read.parquet(out).collect()
    }
    assert got == {(3, 1, 8)}
