"""Fixed-vs-marginal cost split for the streaming store families
(VERDICT r11 item 5).

bench.py's per-query stream numbers bundle two very different costs:
a per-DRAIN fixed overhead (micro-batch engine spin-up, checkpoint dir
creation, state/store provider init, streaming codegen -- paid once per
query however much data flows) and a per-BATCH marginal cost (the fold +
manifest flip -- what actually scales with ingest).  At sf0.1 the fixed
part dominates (~3-4 s of a 4.4 s mean), which makes shared-session
stream timings look like data cost when they are engine setup.

Protocol, per family: the SAME input rows are drained twice in fresh
JVM subprocesses -- once as ONE micro-batch (maxFilesPerTrigger = all
files) and once as B micro-batches (maxFilesPerTrigger=1 over B input
files).  Linear model t(n) = fixed + n * marginal gives

    marginal_per_batch = (t_B - t_1) / (B - 1)
    fixed              = t_1 - marginal_per_batch

Rows merge into STREAM_BENCH_LOCAL.json (the drift gate's receipt file)
as ``stream_cost_split__{family}`` so tools/bench_drift.py can subtract
the fixed drain cost from both sides when judging stream-query drift
instead of blanket-downgrading every ``*_stream`` flag.

Usage: python tools/stream_cost_split.py [out_json] [family ...]
  env: SPARK_GRAFT_CPUS (default 32), SPARK_GRAFT_SPLIT_BATCHES (default 5)

TIMING RUN: run alone (no concurrent pytest/parity), like bench.py.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

FAMILIES = ["agg", "dedup", "neardup", "upsert", "sessions", "cc", "semdedup"]

# Child process: builds a deterministic synthetic input of B parquet
# files, then drains it via the family's run_* entry point with either
# 1 or B micro-batches, timing ONLY the drain (input generation and
# session startup are outside the clock).
_CHILD = r"""
import json, shutil, sys, tempfile, time
sys.path.insert(0, {repo!r})
from pyspark.sql import functions as F
from odp_dynamic_data_pipeline_spark.session import get_spark
from odp_dynamic_data_pipeline_spark.streaming import stream as st

family, n_batches, cpus = {family!r}, {n_batches}, {cpus!r}
ROWS_PER_FILE = 2000
spark = get_spark("cost_split_" + family, master=f"local[{{cpus}}]")
spark.sparkContext.setLogLevel("ERROR")
root = tempfile.mkdtemp(prefix=f"cost_split_{{family}}_")
src = f"{{root}}/in"

# B files of identical size; deterministic content (id-derived)
total_files = {total_files}
for i in range(total_files):
    base = i * ROWS_PER_FILE
    df = spark.range(base, base + ROWS_PER_FILE).select(
        F.col("id").alias("rid"),
        (F.col("id") % 97).alias("user_id"),
        F.concat(F.lit("document text body "), (F.col("id") % 500).cast("string")).alias("text"),
        F.col("id").alias("doc_key"),
        F.timestamp_micros(F.lit(1700000000000000) + F.col("id") * F.lit(30000000)).alias("ts"),
        (F.col("id") % 1000).cast("double").alias("value"),
        (F.col("id") % 13 == 0).alias("__del"),
        (F.col("id") % 499).alias("id_a"),
        (F.col("id") % 503).alias("id_b"),
    )
    df.coalesce(1).write.mode("overwrite").parquet(f"{{root}}/part{{i}}")
    import glob as g, os as o
    part = g.glob(f"{{root}}/part{{i}}/part-*.parquet")[0]
    o.makedirs(src, exist_ok=True)
    shutil.move(part, f"{{src}}/f{{i:03d}}.parquet")

schema = spark.read.parquet(src).schema
reader = spark.readStream.schema(schema)
if n_batches > 1:
    reader = reader.option("maxFilesPerTrigger", 1)
stream = reader.parquet(src)

store, out, ckpt = f"{{root}}/store", f"{{root}}/out", f"{{root}}/ckpt"
t0 = time.time()
if family == "agg":
    st.run_incremental_agg(stream, store, checkpoint=ckpt, key_cols=["user_id"], sum_col="value", n_buckets=32)
elif family == "dedup":
    st.run_incremental_dedup(stream.withColumn("doc_id", F.col("rid")), store, out, checkpoint=ckpt, order_col="doc_id")
elif family == "neardup":
    st.run_incremental_neardup(stream.withColumn("doc_id", F.col("rid")), store, out, checkpoint=ckpt)
elif family == "upsert":
    st.run_incremental_upsert(stream, store, checkpoint=ckpt, key_cols=["user_id"], seq_cols=["ts", "rid"], n_buckets=32, delete_col="__del")
elif family == "sessions":
    st.run_incremental_sessions(stream, store, out, checkpoint=ckpt, group_col="user_id", ts_col="ts", gap_s=3600, cap_s=86400, n_buckets=32)
elif family == "cc":
    st.run_incremental_cc(stream.select("id_a", "id_b"), store, checkpoint=ckpt, n_buckets=32)
elif family == "semdedup":
    dim, k = 16, 32
    cents = [[((j * 31 + i * 7) % 1000) * 1000 for i in range(dim)] for j in range(k)]
    seq_expr = "transform(sequence(0, " + str(dim - 1) + "), j -> CAST((rid * 13 + j * 97) % 1000 AS DOUBLE) / 1000.0)"
    vecs = stream.select(
        F.col("rid").alias("vec_id"),
        F.expr(seq_expr).alias("embedding"),
    )
    st.run_incremental_semdedup(vecs, store, out, checkpoint=ckpt, centroids=cents, threshold=0.95)
else:
    raise SystemExit(f"unknown family {{family}}")
wall = round(time.time() - t0, 3)
print("COST_SPLIT_RESULT " + json.dumps({{"wall": wall}}))
spark.stop()
shutil.rmtree(root, ignore_errors=True)
"""


def _measure(family: str, n_batches: int, total_files: int, cpus: str) -> float | None:
    code = _CHILD.format(
        repo=REPO, family=family, n_batches=n_batches, cpus=cpus, total_files=total_files
    )
    proc = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True, timeout=1200
    )
    for ln in proc.stdout.splitlines():
        if ln.startswith("COST_SPLIT_RESULT "):
            return json.loads(ln.split(" ", 1)[1])["wall"]
    print(f"{family} n={n_batches}: child failed\n{proc.stderr[-1500:]}", file=sys.stderr)
    return None


def main() -> None:
    args = sys.argv[1:]
    out_path = os.path.join(REPO, "STREAM_BENCH_LOCAL.json")
    if args and args[0].endswith(".json"):
        out_path, args = args[0], args[1:]
    families = args or FAMILIES
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    b = int(os.environ.get("SPARK_GRAFT_SPLIT_BATCHES", "5"))

    doc = {"queries": {}}
    if os.path.exists(out_path):
        try:
            with open(out_path) as f:
                doc = json.load(f)
        except Exception:  # noqa: BLE001
            doc = {"queries": {}}
    rows = doc.setdefault("queries", {})

    for family in families:
        t1 = _measure(family, 1, b, cpus)
        tb = _measure(family, b, b, cpus)
        if t1 is None or tb is None:
            continue
        marginal = round((tb - t1) / (b - 1), 3)
        row = {
            "t_1batch": t1,
            f"t_{b}batch": tb,
            "n_batches": b,
            "marginal_per_batch_s": marginal,
            "fixed_s": round(t1 - marginal, 3),
            "rows_per_batch": 2000,
            "isolation": "fresh JVM per measurement, same total rows both drains",
        }
        rows[f"stream_cost_split__{family}"] = row
        print(f"{family}: {json.dumps(row)}", file=sys.stderr)
        with open(out_path, "w") as f:
            f.write(json.dumps(doc) + "\n")

    print(json.dumps({k: v for k, v in rows.items() if k.startswith("stream_cost_split__")}))


if __name__ == "__main__":
    main()
