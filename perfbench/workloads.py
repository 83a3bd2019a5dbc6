"""The benchmark's workloads: one unit of work each, and its check.

A unit is what one closed-loop client waits for before it starts the
next: an hour of the observability pipeline (``obs_hourly``), or a
fold-hour of the store families with its read-back (``store_fold``).
Every call into the program goes through the public functions of its
layer, wrapped in a span named after that layer's boundary.
"""

from __future__ import annotations

import os

from perfbench.telemetry import Shape, StoreTruth, canon_rows, obs_truth
from perfbench.tracing import Tracer

PIPELINE_YAML = "pipelines/observability_correlation_pipeline.yaml"
STAGES = ("user_exp_processed", "trace_processed", "log_processed")


def _read_hour(spark, data_dir: str, hour: str, *names: str):
    """The hour's sources through the reader and schemas the YAML stages
    use."""
    from odp_dynamic_data_pipeline_spark.plans.pipeline import SCHEMA_REGISTRY
    from odp_dynamic_data_pipeline_spark.sources import readers

    return [readers.read_json(spark, f"{data_dir}/{n}_{hour}.json", SCHEMA_REGISTRY[n]) for n in names]


class ObsHourly:
    """One hour of the paper's production mode: the shipped YAML pipeline,
    then the per-client TLB metrics and their keyed JSON sink.

    Untraced, the hour runs through ``Pipeline.run``; traced, it calls
    ``Pipeline.compile`` and then the stage writers itself (the same work)
    so that compile and write are separate spans."""

    name = "obs_hourly"
    shape = Shape()
    warmup_units = 3
    nominal_unit_s = 3.0

    def __init__(self, spark, repo: str, data_dir: str, out_dir: str, tracer: Tracer) -> None:
        from odp_dynamic_data_pipeline_spark.plans import load_pipeline

        self.spark, self.data_dir, self.out_dir, self.tracer = spark, data_dir, out_dir, tracer
        self.pipe = load_pipeline(os.path.join(repo, PIPELINE_YAML))

    def _write_stages(self, outputs: dict, hour: str, path_vars: dict) -> None:
        """The sinks of ``Pipeline.run`` for this pipeline's stages, all
        of which are ``json_array``."""
        from odp_dynamic_data_pipeline_spark.sources.writers import write_json_array

        for name, df in outputs.items():
            out = self.pipe.stages[name].spec["output"]
            if out["format"] != "json_array":
                raise ValueError(f"stage {name}: unexpected output format {out['format']}")
            write_json_array(df, self.pipe._fmt(out["path"], hour, path_vars))

    def run_unit(self, hidx: int, hour: str) -> dict:
        from odp_dynamic_data_pipeline_spark.plans import tlb_metrics
        from odp_dynamic_data_pipeline_spark.sources.writers import write_keyed_object

        span = self.tracer.span
        path_vars = {"data_dir": self.data_dir, "out_dir": self.out_dir}
        if self.tracer.enabled:
            with span("plans.compile"):
                outputs, _ = self.pipe.compile(self.spark, hour=hour, path_vars=path_vars)
            with span("sources.write"):
                self._write_stages(outputs, hour, path_vars)
        else:
            self.pipe.run(self.spark, hour=hour, path_vars=path_vars)
        with span("plans.tlb"):
            metrics = tlb_metrics(*_read_hour(self.spark, self.data_dir, hour, "user_exp", "trace", "log"))
            tlb = write_keyed_object(metrics, "clientId", f"{self.out_dir}/tlb_metrics/{hour}.json")
        return {"tlb": tlb}

    def observed(self, hour: str, result: dict) -> dict:
        """What the hour produced, in the form its truth is kept in."""
        import json

        out = {}
        for name in STAGES:
            with open(f"{self.out_dir}/{name}_{hour}") as f:
                out[name] = canon_rows(json.load(f))
        out["tlb"] = {
            c: {
                "page_view_time": float(m["page_view_time"]),
                **{k: int(m[k]) for k in ("retry_count", "timeout_count", "error_count")},
            }
            for c, m in result["tlb"].items()
        }
        return out

    @staticmethod
    def expected(rows_by_hour: list[dict]) -> list[dict]:
        return [obs_truth(rows) for rows in rows_by_hour]

    @staticmethod
    def corrupt(expected: dict) -> None:
        """Make one expected value wrong (the smoke test's negative case)."""
        client = min(expected["tlb"])
        expected["tlb"][client]["retry_count"] += 1


# With a chain threshold of 0 the CC compaction runs at every maintenance
# that finds a remap chain, so its cost does not hinge on how many
# component merges a seed's hours happen to produce.
CC_MAX_CHAIN = 0
N_BUCKETS = 8
# (store directory, n_extras) of every manifest store, for vacuum
STORE_FAMILIES = (("agg", 0), ("sessions", 2), ("cdc", 2), ("cc/labels", 2))


class StoreFold:
    """One fold-hour: the hour's events folded into four manifest-store
    families (bucketed agg, gap+cap sessions, CDC upsert with tombstones,
    incremental CC), then maintenance, then every store read back.
    Maintenance runs every hour, not every few hours, so that every unit
    does the same steps and unit latencies stay comparable.

    The postings and topk families of tools/day_rehearsal.py are left
    out: both are ``apply_incremental_agg_batch`` with other key shapes,
    the code path the agg family already runs, and together they cost a
    fifth of a fold-hour that the run-time budget has no room for."""

    name = "store_fold"
    shape = Shape()
    # the first fold-hour on a fresh JVM costs about three steady ones and
    # the second is still about a fifth slower than the rest
    warmup_units = 2
    nominal_unit_s = 8.0

    def __init__(self, spark, repo: str, data_dir: str, out_dir: str, tracer: Tracer) -> None:
        self.spark, self.data_dir, self.tracer = spark, data_dir, tracer
        self.stores = f"{out_dir}/stores"

    def _fold(self, hidx: int, hour: str) -> None:
        from pyspark.sql import functions as F

        from odp_dynamic_data_pipeline_spark.streaming.stream import (
            apply_incremental_agg_batch,
            apply_incremental_cc_batch,
            apply_incremental_sessions_batch,
            apply_incremental_upsert_batch,
        )

        span, st = self.tracer.span, self.stores
        (ue,) = _read_hour(self.spark, self.data_dir, hour, "user_exp")
        ev = ue.select(
            "clientId",
            "eventId",
            F.to_timestamp("timestamp").alias("ts"),
            "page",
            F.lit(hidx).cast("long").alias("seq"),
            # a heartbeat-only client went quiet: a CDC delete of its row
            (F.col("eventType") == "heartbeat").alias("is_del"),
            "eventType",
        )
        with span("streaming.fold.agg"):
            apply_incremental_agg_batch(ev.select("clientId"), hidx, f"{st}/agg", key_cols=["clientId"], n_buckets=N_BUCKETS)
        with span("streaming.fold.sessions"):
            apply_incremental_sessions_batch(
                ev.select("clientId", "ts"), hidx, f"{st}/sessions", f"{st}/sessions_out",
                group_col="clientId", ts_col="ts", gap_s=StoreTruth.GAP_S, cap_s=StoreTruth.CAP_S,
                n_buckets=N_BUCKETS,
            )
        with span("streaming.fold.upsert"):
            apply_incremental_upsert_batch(
                ev.select("clientId", "seq", "eventId", "page", "is_del"), hidx, f"{st}/cdc",
                key_cols=["clientId"], seq_cols=["seq", "eventId"], n_buckets=N_BUCKETS,
                delete_col="is_del",
            )
        with span("streaming.fold.cc"):
            apply_incremental_cc_batch(
                ev.where(F.col("eventType") != "heartbeat")
                .select(F.col("clientId").alias("id_a"), F.col("page").alias("id_b"))
                .distinct(),
                hidx, f"{st}/cc", n_buckets=N_BUCKETS,
            )

    def _maintain(self) -> None:
        from odp_dynamic_data_pipeline_spark.streaming.kvstore import ManifestStore
        from odp_dynamic_data_pipeline_spark.streaming.stream import (
            expire_upsert_tombstones,
            maybe_compact_incremental_cc,
        )

        st = self.stores
        expire_upsert_tombstones(self.spark, f"{st}/cdc", key_cols=["clientId"], delete_col="is_del", n_buckets=N_BUCKETS)
        maybe_compact_incremental_cc(self.spark, f"{st}/cc", max_chain=CC_MAX_CHAIN, n_buckets=N_BUCKETS)
        for name, n_extras in STORE_FAMILIES:
            ManifestStore(self.spark, f"{st}/{name}", n_extras=n_extras).vacuum()

    def _read_back(self) -> dict[str, list]:
        from odp_dynamic_data_pipeline_spark.streaming.stream import (
            read_incremental_agg,
            read_incremental_cc,
            read_incremental_sessions,
            read_incremental_upsert,
        )

        spark, st = self.spark, self.stores
        frames = {
            "agg": read_incremental_agg(spark, f"{st}/agg").select("clientId", "n"),
            "sessions": read_incremental_sessions(spark, f"{st}/sessions", f"{st}/sessions_out").select(
                "clientId", "session_n", "n_events", "start_us", "end_us"
            ),
            "cdc": read_incremental_upsert(spark, f"{st}/cdc", delete_col="is_del").select(
                "clientId", "seq", "eventId", "page"
            ),
            "cc": read_incremental_cc(spark, f"{st}/cc", id_col="node").select("node", "component"),
        }
        return {name: sorted(tuple(r) for r in df.collect()) for name, df in frames.items()}

    def run_unit(self, hidx: int, hour: str) -> dict:
        span = self.tracer.span
        with span("streaming.fold"):
            self._fold(hidx, hour)
        with span("streaming.maintain"):
            self._maintain()
        with span("streaming.read"):
            return self._read_back()

    def observed(self, hour: str, result: dict) -> dict:
        return result

    @staticmethod
    def expected(rows_by_hour: list[dict]) -> list[dict]:
        truth, out = StoreTruth(), []
        for hidx, rows in enumerate(rows_by_hour):
            truth.fold(hidx, rows)
            out.append(truth.expected())
        return out

    @staticmethod
    def corrupt(expected: dict) -> None:
        """Make one expected value wrong (the smoke test's negative case)."""
        client, n = expected["agg"][0]
        expected["agg"][0] = (client, n + 1)

    def store_size(self) -> tuple[float, int]:
        """(MB, files) of every store directory after the run."""
        size, files = 0, 0
        for d, _, names in os.walk(self.stores):
            for n in names:
                size += os.path.getsize(os.path.join(d, n))
                files += 1
        return size / 2**20, files


WORKLOADS = {w.name: w for w in (ObsHourly, StoreFold)}


def mismatches(observed: dict, expected: dict) -> list[str]:
    """Names of the parts of a unit's output that differ from the truth."""
    return sorted(k for k in expected if observed.get(k) != expected[k])
