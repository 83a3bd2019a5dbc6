"""Seeded hourly telemetry generator with its own ground truth.

Writes one hourly drop in the three JSON shapes of the reference hour
(``user_exp_<hour>.json``, ``trace_<hour>.json``, ``log_<hour>.json``;
see tests/fixtures/reference_hour) and computes, in plain Python from the
same rows, what the program must output for them:

* the three enriched stage outputs of the observability pipeline;
* the per-client TLB metrics (page_view_time by the reference's register
  walk, retry/timeout/error counts by the event -> trace -> span -> log
  probe);
* the expected state of every store family ``store_fold`` maintains.

Nothing here imports Spark: the truth is independent of the code under
test.
"""

from __future__ import annotations

import json
import os
import random
from dataclasses import dataclass
from datetime import datetime, timedelta, timezone

EPOCH_HOUR = datetime(2024, 11, 16, tzinfo=timezone.utc)
EVENT_TYPES = (("page_view_start", 40), ("page_view_end", 35), ("error", 10), ("click", 15))
LOG_TYPES = (
    ("INFO", "INFO", 45),
    ("SUCCESS", "INFO", 15),
    ("RETRY", "WARN", 15),
    ("TIMEOUT", "ERROR", 10),
    ("ERROR", "ERROR", 15),
)
TLB_COUNTS = {"RETRY": "retry_count", "TIMEOUT": "timeout_count", "ERROR": "error_count"}


@dataclass(frozen=True)
class Shape:
    """Input properties of one hourly drop."""

    clients: int = 40
    traces: int = 30  # per hour
    spans: int = 3  # max spans per trace (1..spans)
    logs: int = 2  # max logs per span (0..logs)
    zipf: float = 1.1  # skew of clientIds over traces
    quiet: float = 0.3  # share of clients that only heartbeat in an hour
    orphan: float = 0.05  # share of traces with no user_exp event
    shared_pages: int = 8  # pages visited across hours (merge CC components)
    shared_share: float = 0.1  # share of events on a shared page


def hour_name(hidx: int) -> str:
    return (EPOCH_HOUR + timedelta(hours=hidx)).strftime("%Y%m%d%H")


def _weighted(rng: random.Random, table):
    """One row of ``table``, drawn by the weight in its last field."""
    return rng.choices(table, weights=[t[-1] for t in table])[0]


def generate_hour(seed: int, hidx: int, shape: Shape) -> dict:
    """Rows of one hourly drop, deterministic in (seed, hidx, shape)."""
    rng = random.Random(f"{seed}:{hidx}")
    hour = hour_name(hidx)
    t0 = EPOCH_HOUR + timedelta(hours=hidx)
    weights = [1.0 / (k + 1) ** shape.zipf for k in range(shape.clients)]
    quiet = {c for c in range(shape.clients) if rng.random() < shape.quiet}
    # one distinct second per row keeps the per-client event order total
    # (the TLB's window pairing and the register walk agree only without
    # equal timestamps inside a client)
    secs = rng.sample(range(3600), shape.traces)
    user_exp, traces, logs = [], [], []
    for t in range(shape.traces):
        tid = f"tr_{hour}_{t:05d}"
        ts = (t0 + timedelta(seconds=secs[t])).strftime("%Y-%m-%dT%H:%M:%SZ")
        c = rng.choices(range(shape.clients), weights=weights)[0]
        if rng.random() >= shape.orphan:
            if rng.random() < shape.shared_share:
                page = f"/shared/{rng.randrange(shape.shared_pages)}"
            else:
                page = f"/h{hour}/{rng.randrange(6)}"
            etype = "heartbeat" if c in quiet else _weighted(rng, EVENT_TYPES)[0]
            ev = {
                "eventId": f"ev_{hour}_{t:05d}",
                "clientId": f"client{c:04d}",
                "traceId": tid,
                "timestamp": ts,
                "page": page,
                "eventType": etype,
            }
            if etype == "error":
                ev["errorCode"] = str(rng.choice((401, 404, 500, 503)))
                ev["errorMessage"] = "request failed"
            user_exp.append(ev)
        spans = []
        for s in range(rng.randint(1, shape.spans)):
            sid = f"sp_{hour}_{t:05d}_{s}"
            spans.append({"spanId": sid, "server": f"srv-{rng.randrange(5)}", "log": f"op {s}"})
            for li in range(rng.randint(0, shape.logs)):
                etype, level, _ = _weighted(rng, LOG_TYPES)
                logs.append(
                    {
                        "logId": f"lg_{hour}_{t:05d}_{s}_{li}",
                        "spanId": sid,
                        "timestamp": ts,
                        "message": f"m{li}",
                        "level": level,
                        "processingTimeMs": rng.randint(1, 500),
                        "eventType": etype,
                    }
                )
        traces.append({"traceId": tid, "spans": spans})
    return {"hour": hour, "user_exp": user_exp, "trace": traces, "log": logs}


def write_hour(data_dir: str, rows: dict) -> None:
    os.makedirs(data_dir, exist_ok=True)
    for name in ("user_exp", "trace", "log"):
        with open(f"{data_dir}/{name}_{rows['hour']}.json", "w") as f:
            json.dump(rows[name], f)


def _epoch_s(ts: str) -> int:
    return int(datetime.strptime(ts, "%Y-%m-%dT%H:%M:%SZ").replace(tzinfo=timezone.utc).timestamp())


def _page_view_time(events: list[dict]) -> float:
    """The reference's register walk (src/batch_tlb.py:50-62): a start
    (over)writes the register, an end with a live register emits
    end - start and clears it, anything else leaves it alone."""
    total, start = 0.0, None
    for ev in sorted(events, key=lambda e: (e["timestamp"], e["eventId"])):
        if ev["eventType"] == "page_view_start":
            start = _epoch_s(ev["timestamp"])
        elif ev["eventType"] == "page_view_end" and start is not None:
            total += _epoch_s(ev["timestamp"]) - start
            start = None
    return total


def obs_truth(rows: dict) -> dict:
    """Expected stage outputs (as canonical row lists) and TLB metrics."""
    trace_client = {e["traceId"]: e["clientId"] for e in rows["user_exp"]}
    span_trace = {s["spanId"]: t["traceId"] for t in rows["trace"] for s in t["spans"]}
    traces_out = []
    for t in rows["trace"]:
        r = dict(t)
        if t["traceId"] in trace_client:
            r["clientId"] = trace_client[t["traceId"]]
        traces_out.append(r)
    logs_out = []
    for lg in rows["log"]:
        r = dict(lg, traceId=span_trace[lg["spanId"]])
        if r["traceId"] in trace_client:
            r["clientId"] = trace_client[r["traceId"]]
        logs_out.append(r)

    by_client: dict[str, list[dict]] = {}
    for e in rows["user_exp"]:
        by_client.setdefault(e["clientId"], []).append(e)
    tlb = {
        c: {"page_view_time": _page_view_time(evs), "retry_count": 0, "timeout_count": 0, "error_count": 0}
        for c, evs in by_client.items()
    }
    logs_by_trace: dict[str, list[str]] = {}
    for lg in rows["log"]:
        logs_by_trace.setdefault(span_trace[lg["spanId"]], []).append(lg["eventType"])
    for e in rows["user_exp"]:
        for etype in logs_by_trace.get(e["traceId"], ()):
            if etype in TLB_COUNTS:
                tlb[e["clientId"]][TLB_COUNTS[etype]] += 1
    return {
        "user_exp_processed": canon_rows(rows["user_exp"]),
        "trace_processed": canon_rows(traces_out),
        "log_processed": canon_rows(logs_out),
        "tlb": tlb,
    }


def canon_rows(rows: list[dict]) -> list[str]:
    """Order-insensitive form of a row list; absent and null fields are
    the same (Row.asDict carries unset optional fields as None)."""
    return sorted(
        json.dumps({k: v for k, v in r.items() if v is not None}, sort_keys=True, default=str)
        for r in rows
    )


class StoreTruth:
    """Expected state of the store families after the hours folded so far,
    kept incrementally in plain Python."""

    GAP_S, CAP_S = 7200, 6 * 3600

    def __init__(self) -> None:
        self.agg: dict[str, int] = {}
        self.ts: dict[str, list[int]] = {}
        self.cdc: dict[str, tuple] = {}
        self.parent: dict[str, str] = {}

    def _find(self, x: str) -> str:
        while self.parent[x] != x:
            self.parent[x] = self.parent[self.parent[x]]
            x = self.parent[x]
        return x

    def fold(self, hidx: int, rows: dict) -> None:
        for e in rows["user_exp"]:
            c = e["clientId"]
            self.agg[c] = self.agg.get(c, 0) + 1
            self.ts.setdefault(c, []).append(_epoch_s(e["timestamp"]) * 1_000_000)
            cand = (hidx, e["eventId"], e["page"], e["eventType"] == "heartbeat")
            if c not in self.cdc or cand[:2] > self.cdc[c][:2]:
                self.cdc[c] = cand
            if e["eventType"] != "heartbeat":
                for n in (c, e["page"]):
                    self.parent.setdefault(n, n)
                a, b = self._find(c), self._find(e["page"])
                if a != b:
                    self.parent[max(a, b)] = min(a, b)

    def sessions(self) -> list[tuple]:
        """Gap + cap sessionization (operators.sessionize.sessionize_capped):
        a gap over GAP_S ends a session, and a session ends at the first
        event later than its first event + CAP_S."""
        out = []
        gap, cap = self.GAP_S * 1_000_000, self.CAP_S * 1_000_000
        for c, ts in self.ts.items():
            ts = sorted(ts)
            runs, cur = [], [ts[0]]
            for prev, t in zip(ts, ts[1:]):
                if t - prev > gap:
                    runs.append(cur)
                    cur = []
                cur.append(t)
            runs.append(cur)
            n = 0
            for run in runs:
                i = 0
                while i < len(run):
                    j = i
                    while j + 1 < len(run) and run[j + 1] <= run[i] + cap:
                        j += 1
                    n += 1
                    out.append((c, n, j - i + 1, run[i], run[j]))
                    i = j + 1
        return sorted(out)

    def expected(self) -> dict[str, list]:
        """Per store, the sorted rows its read-back must return."""
        return {
            "agg": sorted(self.agg.items()),
            "sessions": self.sessions(),
            "cdc": sorted((c, s, ev, p) for c, (s, ev, p, d) in self.cdc.items() if not d),
            "cc": sorted((n, self._find(n)) for n in self.parent),
        }
