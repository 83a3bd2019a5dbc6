"""Store-growth rehearsal for the incremental streaming runners
(VERDICT r8 item 4): measure per-batch wall clock at FIXED batch size
while the accreted store grows 1x -> 30x.

The batch-scale rehearsal (tools/scale_rehearsal.py) grows the DATA and
measures the whole run; this harness isolates the other axis the
"per-batch cost is batch-driven" docstring claims depend on: a
long-lived stream whose store has accreted months of history must not
pay more per arriving batch than a young one.  Protocol per family:

  1. run the runner once over a small HISTORY drop (real colliding
     rows), then rename its store/out partitions to the batch_id=-1
     baseline (the compacted-store shape; a fresh-checkpoint timed run
     issues batch_id=0 and must not exclude history as its own ghost);
  2. add synthetic non-colliding FILLER feature rows at batch_id=-2,
     scaled by m (the store-growth axis);
  3. stream ONE fixed-size batch (AvailableNow, fresh checkpoint) and
     time the runner end-to-end.

Fixed per-batch machinery (micro-batch planning, checkpoint writes,
parquet commit) is ~1-2 s on this container and flattens exponents
toward 0, so the artifact records the raw per-scale times AND the
t(max)/t(1) ratio alongside the LSQ exponent -- read the ratio, not
just the slope.  A truly store-driven cost shows up as ratio >> 1 (the
pre-r9 spans runner re-aggregated the whole window store every batch).

Usage: python tools/store_growth.py [out_json] [family ...]
  families: dedup neardup hamming kmv spans agg_bucketed agg_legacy sessions
            postings topk upsert
  env: SPARK_GRAFT_CPUS (default 32), SPARK_GRAFT_SCALES (default "1,3,10,30")
Merges rows keyed store_growth_<family> into SCALE_REHEARSAL.json.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402
from pyspark.sql.types import (  # noqa: E402
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

DOC_SCHEMA = StructType(
    [StructField("doc_id", LongType()), StructField("text", StringType())]
)
CODE_SCHEMA = StructType(
    [StructField("doc_id", LongType()), StructField("simhash60", LongType())]
)
KV_SCHEMA = StructType(
    [StructField("g", StringType()), StructField("v", LongType())]
)

# filler rows at m=1 (the store-growth unit)
BASE = {
    "dedup": 200_000,
    "neardup": 200_000,  # bucket rows; hash-table docs are BASE // 8
    "hamming": 200_000,
    "kmv": 50_000,
    "spans": 200_000,
    "agg": 100_000,  # aggregate-store keys
    "sessions": 100_000,  # open-session users
}


def _text(tag: str, doc: int, n: int = 20) -> str:
    return " ".join(f"{tag}{doc}x{i}" for i in range(n))


def _write_stream_file(rows, path: str, spark, schema) -> None:
    df = spark.createDataFrame(rows, schema).coalesce(1)
    tmp = f"{path}__tmp"
    df.write.mode("overwrite").parquet(tmp)
    (part,) = [f for f in os.listdir(tmp) if f.startswith("part-")]
    os.makedirs(os.path.dirname(path), exist_ok=True)
    shutil.move(f"{tmp}/{part}", path)
    shutil.rmtree(tmp)


def _rebase_partitions(root: str) -> None:
    """batch_id=N -> batch_id=-1 (merge multiple N by moving files)."""
    if not os.path.isdir(root):
        return
    base = f"{root}/batch_id=-1"
    os.makedirs(base, exist_ok=True)
    for name in sorted(os.listdir(root)):
        if name.startswith("batch_id=") and name != "batch_id=-1":
            src = f"{root}/{name}"
            for i, f_ in enumerate(os.listdir(src)):
                # skip checksum/commit metadata -- renaming a hidden
                # .crc makes it visible and Spark trips on its footer
                if f_.startswith((".", "_")):
                    continue
                shutil.move(f"{src}/{f_}", f"{base}/{name[9:]}_{i}_{f_}")
            shutil.rmtree(src)


def _read_stream(spark, src: str, schema):
    return (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 10).parquet(src)
    )


class Family:
    """One incremental runner: history setup, filler writer, timed run."""

    name: str
    schema = DOC_SCHEMA

    def history_rows(self):  # small, colliding with part of the batch
        raise NotImplementedError

    def batch_rows(self):  # fixed across scales
        raise NotImplementedError

    def run(self, spark, stream, store: str, out: str, ck: str) -> None:
        raise NotImplementedError

    def write_filler(self, spark, store: str, m: int) -> None:
        raise NotImplementedError

    def prepare_template(self, spark, root: str) -> str:
        """History run -> rebased store/out template dir."""
        tdir = f"{root}/{self.name}/template"
        src = f"{tdir}/in/h.parquet"
        _write_stream_file(self.history_rows(), src, spark, self.schema)
        self.run(
            spark,
            _read_stream(spark, f"{tdir}/in", self.schema),
            f"{tdir}/store",
            f"{tdir}/out",
            f"{tdir}/ck",
        )
        shutil.rmtree(f"{tdir}/ck")
        shutil.rmtree(f"{tdir}/in")
        for sub in self.store_tables():
            _rebase_partitions(f"{tdir}/store/{sub}" if sub else f"{tdir}/store")
        _rebase_partitions(f"{tdir}/out")
        return tdir

    def store_tables(self) -> list[str]:
        return [""]

    def check(self, spark, rdir: str) -> None:
        """Assert the batch actually hit history (flat-but-empty is not
        a receipt); run once on the warm pass.  Receives the run dir
        (store/ and out/ inside)."""
        raise NotImplementedError

    def timed_run(
        self, spark, root: str, tdir: str, m: int, tag: str, verify: bool = False
    ) -> float:
        rdir = f"{root}/{self.name}/m{m}_{tag}"
        shutil.copytree(tdir, rdir)
        self.write_filler(spark, f"{rdir}/store", m)
        _write_stream_file(
            self.batch_rows(), f"{rdir}/in/b.parquet", spark, self.schema
        )
        stream = _read_stream(spark, f"{rdir}/in", self.schema)
        t0 = time.time()
        self.run(spark, stream, f"{rdir}/store", f"{rdir}/out", f"{rdir}/ck")
        dt = time.time() - t0
        if verify:
            self.check(spark, rdir)
        shutil.rmtree(rdir)
        return dt


class Dedup(Family):
    name = "dedup"

    def check(self, spark, rdir):
        n = spark.read.parquet(f"{rdir}/out/batch_id=0").count()
        assert n == 450, f"dedup: expected 450 survivors, got {n}"

    def history_rows(self):
        return [(i, _text("h", i)) for i in range(50)]

    def batch_rows(self):
        # 50 exact re-carries of history (dropped), 450 fresh
        return [(1000 + i, _text("h", i)) for i in range(50)] + [
            (2000 + i, _text("b", i)) for i in range(450)
        ]

    def run(self, spark, stream, store, out, ck):
        from odp_dynamic_data_pipeline_spark.streaming.stream import (
            run_incremental_dedup,
        )

        run_incremental_dedup(stream, store, out, checkpoint=ck, order_col="doc_id")

    def write_filler(self, spark, store, m):
        spark.range(BASE["dedup"] * m).select(
            F.md5(F.concat(F.lit("filler"), F.col("id").cast("string"))).alias(
                "fingerprint"
            )
        ).write.mode("overwrite").parquet(f"{store}/batch_id=-2")


class Neardup(Family):
    name = "neardup"

    def check(self, spark, rdir):
        n = spark.read.parquet(f"{rdir}/out/batch_id=0").count()
        assert n >= 30, f"neardup: expected >=30 pairs vs history, got {n}"

    def history_rows(self):
        return [(i, _text("h", i)) for i in range(30)]

    def batch_rows(self):
        # 30 near-twins of history (one token appended), 270 fresh
        return [(1000 + i, _text("h", i) + " t0") for i in range(30)] + [
            (2000 + i, _text("b", i)) for i in range(270)
        ]

    def run(self, spark, stream, store, out, ck):
        from odp_dynamic_data_pipeline_spark.streaming.stream import (
            run_incremental_neardup,
        )

        run_incremental_neardup(stream, store, out, checkpoint=ck)

    def store_tables(self):
        return ["buckets", "hashes"]

    def write_filler(self, spark, store, m):
        n = BASE["neardup"] * m
        spark.range(n).select(
            (-F.col("id") - 10).alias("doc_id"),
            F.pmod(F.col("id"), F.lit(8)).cast("int").alias("band"),
            F.xxhash64(F.col("id"), F.lit("bkt")).alias("bucket"),
        ).write.mode("overwrite").parquet(f"{store}/buckets/batch_id=-2")
        spark.range(n // 8).select(
            (-F.col("id") - 10).alias("doc_id"),
            F.expr(
                "transform(sequence(0, 39), j -> xxhash64(id, j))"
            ).alias("hsh"),
        ).write.mode("overwrite").parquet(f"{store}/hashes/batch_id=-2")


class Hamming(Family):
    name = "hamming"
    schema = CODE_SCHEMA

    @staticmethod
    def _code(i: int) -> int:
        # deterministic 60-bit codes, python-side (tiny row counts)
        x = (i * 0x9E3779B97F4A7C15 + 0x632BE59BD9B4E019) & ((1 << 60) - 1)
        return x

    def check(self, spark, rdir):
        n = spark.read.parquet(f"{rdir}/out/batch_id=0").count()
        assert n >= 30, f"hamming: expected >=30 dist-0 pairs, got {n}"

    def history_rows(self):
        return [(i, self._code(i)) for i in range(30)]

    def batch_rows(self):
        # 30 exact code re-carries (dist 0 pairs), 270 fresh codes
        return [(1000 + i, self._code(i)) for i in range(30)] + [
            (2000 + i, self._code(10_000 + i)) for i in range(270)
        ]

    def run(self, spark, stream, store, out, ck):
        from odp_dynamic_data_pipeline_spark.streaming.stream import (
            run_incremental_hamming,
        )

        run_incremental_hamming(stream, store, out, checkpoint=ck)

    def store_tables(self):
        return ["bands"]

    def write_filler(self, spark, store, m):
        spark.range(BASE["hamming"] * m).select(
            (-F.col("id") - 10).alias("doc_id"),
            F.pmod(F.xxhash64("id", F.lit("c")), F.lit(1 << 60)).alias("simhash60"),
            F.pmod(F.col("id"), F.lit(4)).cast("int").alias("bi"),
            F.pmod(F.xxhash64("id", F.lit("bv")), F.lit(1 << 15)).alias("bv"),
        ).write.mode("overwrite").parquet(f"{store}/bands/batch_id=-2")


class Kmv(Family):
    name = "kmv"
    schema = KV_SCHEMA

    def check(self, spark, rdir):
        rows = spark.read.parquet(f"{rdir}/out/batch_id=0").collect()
        assert {r.g for r in rows} == {"x", "y"} and all(
            r.est_distinct > 0 for r in rows
        ), f"kmv: bad emission {rows}"

    def history_rows(self):
        return [("x", i) for i in range(500)] + [("y", i) for i in range(100)]

    def batch_rows(self):
        return [("x", i) for i in range(250, 1250)] + [("y", i) for i in range(200)]

    def run(self, spark, stream, store, out, ck):
        from odp_dynamic_data_pipeline_spark.streaming.stream import (
            run_incremental_kmv,
        )

        run_incremental_kmv(
            stream, store, out, checkpoint=ck, col="v", k=64, group_cols=["g"]
        )

    def store_tables(self):
        return ["mins"]

    def write_filler(self, spark, store, m):
        # an uncompacted audit trail: many per-batch min partitions' worth
        # of rows (the hot path must never re-read these)
        spark.range(BASE["kmv"] * m).select(
            F.lit("x").alias("g"),
            F.pmod(F.xxhash64("id", F.lit("h")), F.lit(1 << 52)).alias("h"),
        ).write.mode("overwrite").parquet(f"{store}/mins/batch_id=-2")


class Spans(Family):
    name = "spans"

    def check(self, spark, rdir):
        df = spark.read.parquet(f"{rdir}/out/batch_id=0")
        n = df.select("doc_id").distinct().count()
        assert n == 50, f"spans: expected 50 flagged docs, got {n}"

    def history_rows(self):
        return [(i, _text("h", i)) for i in range(50)]

    def batch_rows(self):
        # 50 full re-carries of history passages (flagged spans), 450 fresh
        return [(1000 + i, _text("h", i)) for i in range(50)] + [
            (2000 + i, _text("b", i)) for i in range(450)
        ]

    def run(self, spark, stream, store, out, ck):
        from odp_dynamic_data_pipeline_spark.streaming.stream import (
            run_incremental_spans,
        )

        run_incremental_spans(stream, store, out, checkpoint=ck, min_tokens=8)

    def store_tables(self):
        return ["whc"]

    def write_filler(self, spark, store, m):
        spark.range(BASE["spans"] * m).select(
            F.md5(F.concat(F.lit("fwh"), F.col("id").cast("string"))).alias("wh"),
            F.lit(1).cast("long").alias("cnt"),
        ).write.mode("overwrite").parquet(f"{store}/whc/batch_id=-2")


class AggBucketed(Family):
    """run_incremental_agg with the r9 bucketed delta-merge: the store is
    a manifest-versioned per-key aggregate over m*100k keys; the fixed
    batch touches 50 keys (~49 of 1024 buckets), so per-batch IO is
    touched_buckets * bucket_size = ~5%% of the store -- the B knob
    shrinks the constant; the LEGACY twin below rewrites the whole store
    every batch for contrast."""

    name = "agg_bucketed"
    schema = KV_SCHEMA
    NB: int | None = 1024

    def prepare_template(self, spark, root: str) -> str:
        tdir = f"{root}/{self.name}/template"
        os.makedirs(f"{tdir}/store", exist_ok=True)
        return tdir

    def write_filler(self, spark, store, m):
        from odp_dynamic_data_pipeline_spark.streaming.stream import (
            apply_incremental_agg_batch,
        )

        hist = spark.range(BASE["agg"] * m).select(
            F.concat(F.lit("k"), F.col("id").cast("string")).alias("g"),
            F.lit(1).cast("long").alias("v"),
        )
        apply_incremental_agg_batch(
            hist, -1, store, key_cols=["g"], sum_col="v", n_buckets=self.NB
        )

    def batch_rows(self):
        return [(f"k{i}", 2) for i in range(50)]

    def run(self, spark, stream, store, out, ck):
        from odp_dynamic_data_pipeline_spark.streaming.stream import (
            run_incremental_agg,
        )

        run_incremental_agg(
            stream, store, checkpoint=ck, key_cols=["g"], sum_col="v",
            n_buckets=self.NB,
        )

    def check(self, spark, rdir):
        from odp_dynamic_data_pipeline_spark.streaming.stream import (
            read_incremental_agg,
        )

        rows = {
            r.g: (r.n, r.sum_v)
            for r in read_incremental_agg(spark, f"{rdir}/store")
            .where(F.col("g").isin([f"k{i}" for i in range(50)]))
            .collect()
        }
        assert all(v == (2, 3) for v in rows.values()) and len(rows) == 50, rows


class AggLegacy(AggBucketed):
    name = "agg_legacy"
    NB = None


class Postings(AggBucketed):
    """run_incremental_agg in the POSTINGS shape (incremental inverted-
    index stats, queries.core incremental_postings_stream): term-keyed
    (df, cf) maintained in the bucketed store over m*100k vocabulary
    terms; the fixed batch touches 50 terms."""

    name = "postings"

    def write_filler(self, spark, store, m):
        from odp_dynamic_data_pipeline_spark.streaming.stream import (
            apply_incremental_agg_batch,
        )

        hist = spark.range(BASE["agg"] * m).select(
            F.concat(F.lit("t"), F.col("id").cast("string")).alias("g"),
            F.lit(1).cast("long").alias("v"),
        )
        apply_incremental_agg_batch(
            hist, -1, store, key_cols=["g"], count_col="df", sum_col="v",
            n_buckets=self.NB,
        )

    def batch_rows(self):
        return [(f"t{i}", 3) for i in range(50)]

    def run(self, spark, stream, store, out, ck):
        from odp_dynamic_data_pipeline_spark.streaming.stream import (
            run_incremental_agg,
        )

        run_incremental_agg(
            stream, store, checkpoint=ck, key_cols=["g"],
            count_col="df", sum_col="v", n_buckets=self.NB,
        )

    def check(self, spark, rdir):
        from odp_dynamic_data_pipeline_spark.streaming.stream import (
            read_incremental_agg,
        )

        rows = {
            r.g: (r.df, r.sum_v)
            for r in read_incremental_agg(spark, f"{rdir}/store")
            .where(F.col("g").isin([f"t{i}" for i in range(50)]))
            .collect()
        }
        assert len(rows) == 50 and all(v == (2, 4) for v in rows.values()), rows


TOPK_SCHEMA = StructType(
    [
        StructField("et", StringType()),
        StructField("u", LongType()),
        StructField("v", LongType()),
    ]
)


class Topk(Family):
    """The maintained-view half of incremental_topk_stream: composite
    (event_type, user) cent totals in the bucketed store over m*100k
    users x 2 types; the cheap read-time rank is not part of the fold
    cost and is excluded (it runs over the store READ, once, at serve
    time)."""

    name = "topk"
    schema = TOPK_SCHEMA
    NB = 1024

    def prepare_template(self, spark, root: str) -> str:
        tdir = f"{root}/{self.name}/template"
        os.makedirs(f"{tdir}/store", exist_ok=True)
        return tdir

    def write_filler(self, spark, store, m):
        from odp_dynamic_data_pipeline_spark.streaming.stream import (
            apply_incremental_agg_batch,
        )

        hist = spark.range(BASE["agg"] * m).select(
            F.when(F.col("id") % 2 == 0, F.lit("view")).otherwise(F.lit("buy")).alias("et"),
            F.col("id").alias("u"),
            F.lit(10).cast("long").alias("v"),
        )
        apply_incremental_agg_batch(
            hist, -1, store, key_cols=["et", "u"], sum_col="v", n_buckets=self.NB
        )

    def batch_rows(self):
        return [("view" if i % 2 == 0 else "buy", i, 7) for i in range(50)]

    def run(self, spark, stream, store, out, ck):
        from odp_dynamic_data_pipeline_spark.streaming.stream import (
            run_incremental_agg,
        )

        run_incremental_agg(
            stream, store, checkpoint=ck, key_cols=["et", "u"], sum_col="v",
            n_buckets=self.NB,
        )

    def check(self, spark, rdir):
        from odp_dynamic_data_pipeline_spark.streaming.stream import (
            read_incremental_agg,
        )

        rows = {
            r.u: (r.n, r.sum_v)
            for r in read_incremental_agg(spark, f"{rdir}/store")
            .where(F.col("u") < 50)
            .collect()
        }
        assert len(rows) == 50 and all(v == (2, 17) for v in rows.values()), rows


CDC_SCHEMA = StructType(
    [
        StructField("k", StringType()),
        StructField("seq", LongType()),
        StructField("val", StringType()),
    ]
)


class Upsert(Family):
    """run_incremental_upsert (CDC last-wins table): ONE row per key over
    m*100k keys in the bucketed store; the fixed batch updates 50 stored
    keys and inserts 10 new ones.  Store filler is written in the
    operator's own layout (state rows + 6-line manifest) -- the aged
    table a long-lived CDC stream accretes."""

    name = "upsert"
    schema = CDC_SCHEMA
    NB = 1024

    def prepare_template(self, spark, root: str) -> str:
        tdir = f"{root}/{self.name}/template"
        os.makedirs(f"{tdir}/store", exist_ok=True)
        return tdir

    def write_filler(self, spark, store, m):
        from odp_dynamic_data_pipeline_spark.streaming.kvstore import ManifestStore

        state = spark.range(BASE["agg"] * m).select(
            F.concat(F.lit("k"), F.col("id").cast("string")).alias("k"),
            F.lit(1).cast("long").alias("seq"),
            F.lit("h").alias("val"),
        ).withColumn(
            "bucket", F.pmod(F.xxhash64("k"), F.lit(self.NB)).cast("int")
        )
        state.write.partitionBy("bucket").mode("overwrite").parquet(f"{store}/v-1")
        ManifestStore(spark, store, n_extras=2).write_manifest(
            "v-1", "-", {str(i): "v-1" for i in range(self.NB)}, None, [None, None]
        )

    def batch_rows(self):
        return [(f"k{i}", 2, "upd") for i in range(50)] + [
            (f"n{i}", 1, "new") for i in range(10)
        ]

    def run(self, spark, stream, store, out, ck):
        from odp_dynamic_data_pipeline_spark.streaming.stream import (
            run_incremental_upsert,
        )

        run_incremental_upsert(
            stream, store, checkpoint=ck, key_cols=["k"], seq_cols=["seq"],
            n_buckets=self.NB,
        )

    def check(self, spark, rdir):
        from odp_dynamic_data_pipeline_spark.streaming.stream import (
            read_incremental_upsert,
        )

        rows = {
            r.k: (r.seq, r.val)
            for r in read_incremental_upsert(spark, f"{rdir}/store")
            .where(F.col("k").isin([f"k{i}" for i in range(50)] + ["n0", "n9"]))
            .collect()
        }
        assert all(rows[f"k{i}"] == (2, "upd") for i in range(50)), rows
        assert rows["n0"] == (1, "new") and rows["n9"] == (1, "new"), rows


SESS_SCHEMA = StructType(
    [StructField("user_id", LongType()), StructField("ts", TimestampType())]
)
SESS_T0 = 1_700_000_000_000_000  # epoch us


class Sessions(Family):
    """run_incremental_sessions: the store is ONE open session per user
    over m*100k users in 1024 hash buckets; the fixed batch touches 50
    stored users (continuations) + 10 new ones (~58 of 1024 buckets), so
    per-batch IO is touched_buckets/1024 of the store.  Store filler is
    written in the operator's own layout (state rows + manifest) -- the
    aged-store shape a long-lived stream accretes."""

    name = "sessions"
    schema = SESS_SCHEMA
    NB = 1024

    def prepare_template(self, spark, root: str) -> str:
        tdir = f"{root}/{self.name}/template"
        os.makedirs(f"{tdir}/store", exist_ok=True)
        os.makedirs(f"{tdir}/out", exist_ok=True)
        return tdir

    def write_filler(self, spark, store, m):
        from odp_dynamic_data_pipeline_spark.streaming.kvstore import ManifestStore

        state = spark.range(BASE["sessions"] * m).select(
            F.col("id").alias("user_id"),
            F.lit(1).cast("long").alias("session_n"),
            F.lit(3).cast("long").alias("n_events"),
            F.lit(SESS_T0).cast("long").alias("start_us"),
            F.lit(SESS_T0 + 3_600_000_000).cast("long").alias("last_us"),
            F.pmod(F.xxhash64("id"), F.lit(self.NB)).cast("int").alias("bucket"),
        )
        state.write.partitionBy("bucket").mode("overwrite").parquet(f"{store}/v-1")
        ManifestStore(spark, store, n_extras=2).write_manifest(
            "v-1", "-", {str(k): "v-1" for k in range(self.NB)}, None,
            [SESS_T0 + 3_600_000_000, None],
        )

    def batch_rows(self):
        import datetime as _dt

        # timezone-aware UTC: Spark interprets NAIVE datetimes in the session
        # timezone, which on a non-UTC machine would shift the batch event
        # relative to the store's epoch-us high-water mark and trip the
        # late-batch guard spuriously.
        t = _dt.datetime.fromtimestamp(
            (SESS_T0 + 7_200_000_000) / 1e6, tz=_dt.timezone.utc
        )
        return [(i, t) for i in range(50)] + [
            (10_000_000 + i, t) for i in range(10)
        ]

    def run(self, spark, stream, store, out, ck):
        from odp_dynamic_data_pipeline_spark.streaming.stream import (
            run_incremental_sessions,
        )

        run_incremental_sessions(
            stream, store, out, checkpoint=ck,
            group_col="user_id", ts_col="ts",
            gap_s=28800, cap_s=86400, n_buckets=self.NB,
        )

    def check(self, spark, rdir):
        from odp_dynamic_data_pipeline_spark.streaming.stream import (
            read_incremental_sessions,
        )

        rows = {
            r.user_id: (r.session_n, r.n_events)
            for r in read_incremental_sessions(spark, f"{rdir}/store", f"{rdir}/out")
            .where(F.col("user_id") < 50)
            .collect()
        }
        # 50 continuations absorbed the batch event into the stored session
        assert len(rows) == 50 and all(v == (1, 4) for v in rows.values()), rows


FAMILIES = {
    f.name: f
    for f in [
        Dedup(), Neardup(), Hamming(), Kmv(), Spans(), AggBucketed(), AggLegacy(),
        Sessions(), Postings(), Topk(), Upsert(),
    ]
}


def fit_exponent(ts: dict[int, float]) -> float:
    pts = [(math.log(m), math.log(t)) for m, t in ts.items() if t > 0]
    if len(pts) < 2:
        return float("nan")
    n = len(pts)
    sx = sum(x for x, _ in pts)
    sy = sum(y for _, y in pts)
    sxx = sum(x * x for x, _ in pts)
    sxy = sum(x * y for x, y in pts)
    return round((n * sxy - sx * sy) / (n * sxx - sx * sx), 3)


def main() -> None:
    out_path = (
        sys.argv[1] if len(sys.argv) > 1 else os.path.join(REPO, "SCALE_REHEARSAL.json")
    )
    names = sys.argv[2:] or list(FAMILIES)
    scales = [
        int(s) for s in os.environ.get("SPARK_GRAFT_SCALES", "1,3,10,30").split(",")
    ]
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")

    from odp_dynamic_data_pipeline_spark.session import get_spark

    spark = get_spark("store_growth", master=f"local[{cpus}]")
    spark.sparkContext.setLogLevel("ERROR")

    doc = {"queries": {}}
    if os.path.exists(out_path):
        try:
            with open(out_path) as f:
                doc = json.load(f)
        except Exception:  # noqa: BLE001 - corrupt artifact: start fresh
            doc = {"queries": {}}
    results = doc.setdefault("queries", {})
    doc["store_growth_protocol"] = (
        "fixed batch (500 docs / 300 codes / 1200 kv rows), store grown by m"
        " via batch_id=-2 filler over a real history baseline at batch_id=-1;"
        " one AvailableNow micro-batch timed end-to-end per scale, fresh"
        " checkpoint each; untimed warm run at m=1 first.  Fixed micro-batch"
        " machinery ~1-2 s flattens exponents; read ratio_maxscale too."
    )

    root = tempfile.mkdtemp(prefix="store_growth_")
    try:
        for name in names:
            fam = FAMILIES.get(name)
            if fam is None:
                print(f"{name}: unknown family", file=sys.stderr)
                continue
            print(f"[{name}] history template...", file=sys.stderr)
            tdir = fam.prepare_template(spark, root)
            fam.timed_run(spark, root, tdir, scales[0], "warm", verify=True)  # untimed
            ts: dict[int, float] = {}
            for m in scales:
                dt = fam.timed_run(spark, root, tdir, m, "t")
                ts[m] = round(dt, 3)
                print(f"[{name}] m={m}: {dt:.2f}s", file=sys.stderr)
            results[f"store_growth_{name}"] = {
                "t": ts,
                "exponent": fit_exponent(ts),
                "ratio_maxscale": round(ts[scales[-1]] / ts[scales[0]], 2),
                "axis": "store-size (fixed batch)",
            }
            with open(out_path, "w") as f:
                f.write(json.dumps(doc) + "\n")
    finally:
        shutil.rmtree(root, ignore_errors=True)
    print(json.dumps({k: v for k, v in results.items() if k.startswith("store_")}))


if __name__ == "__main__":
    main()
