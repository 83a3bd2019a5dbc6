"""Per-query bench drift gate (VERDICT r6 item 4; sibling adjudication
added per VERDICT r7 item 3).

Compares a bench run's per-query COLD timings against the best prior
recorded cold time for the same query across every round artifact
(BENCH_LOCAL_r*.json -- the full maps bench.py writes; the driver's
BENCH_r*.json tails are truncated JSON and are ignored).  A query is
FLAGGED when it is more than ``--ratio`` (default 2.0) times its best
prior AND the absolute regression exceeds ``--floor`` seconds (default
1.0 -- sub-second jitter on a shared host is noise, not drift).

Downgrade ladder (a would-be flag must clear all three to stay a flag):

1. ``stream-floor``: streaming queries (name contains "stream") are
   reported but never flagged: their warm floor is micro-batch engine
   machinery, adjudicated in PLANS.md round 6 (isolated fresh-JVM
   measurements in STREAM_BENCH_LOCAL.json put even trivial streaming
   plans at 1.5-4.5 s warm).
2. ``jit-noise``: a batch query whose WARM re-run (queries_warm) in the
   SAME map is back inside the ratio -- the cold number was per-query
   codegen/JIT, measured at 1-5 s on this container (SCALE.md).
3. ``sibling-ok`` (new r8): a query whose cold in a SAME-ROUND sibling
   map is inside the ratio -- same code, same day, different shared-JVM
   pressure, so the flagged number is session noise, not a plan change.
   Siblings resolve automatically for round-named maps
   (BENCH_LOCAL_r07b.json adjudicates against BENCH_LOCAL_r07*.json) or
   explicitly via ``--siblings=<glob[,glob...]>`` for the unnumbered
   working map (BENCH_LOCAL.json), whose same-code siblings the caller
   knows (this round's earlier clean run).  r7's process gap -- a closing
   noisy map flagged ``stats_moments`` that the earlier-map gate run never
   saw -- cannot recur: whichever map the gate runs against, the sibling
   evidence is consulted in the same invocation.

Any flag that survives all three is a real drift candidate; the gate
prints the fresh-JVM adjudication command (tools/stream_bench.py) so no
flag can leave the round unexplained.

Usage:
    python tools/bench_drift.py [current.json] [--ratio=2.0] [--floor=1.0]
                                [--siblings=GLOB[,GLOB...]]
Exit 1 iff any hard flag survives the downgrades.
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys


def _load(path: str) -> dict | None:
    try:
        with open(path) as f:
            return json.loads(f.read().strip().splitlines()[-1])
    except (OSError, json.JSONDecodeError, IndexError):
        return None


def best_prior(
    repo: str, exclude: str, field: str = "queries"
) -> dict[str, tuple[float, str]]:
    """name -> (best sec, source file) over all prior full maps, for the
    given per-query field ("queries" = cold, "queries_warm" = warm)."""
    best: dict[str, tuple[float, str]] = {}
    for path in sorted(glob.glob(os.path.join(repo, "BENCH_LOCAL_r*.json"))):
        if os.path.abspath(path) == os.path.abspath(exclude):
            continue
        doc = _load(path)
        if not doc:
            continue
        for name, t in (doc.get(field) or {}).items():
            if isinstance(t, (int, float)) and t >= 0:
                if name not in best or t < best[name][0]:
                    best[name] = (float(t), os.path.basename(path))
    return best


def map_probes(repo: str) -> tuple[dict[str, float], dict[str, float]]:
    """(basename -> st_probe_sec, basename -> cpu_steal_frac) for every
    full map that recorded them (bench.py emits both since r14).  Used
    to scale drift thresholds by the host-window ratio instead of
    flagging host oversubscription as code drift (VERDICT r13 item 1).
    The probe is a point sample of single-thread speed; the steal
    fraction integrates hypervisor theft over the whole run and catches
    the intermittent-stall windows the probe misses."""
    probes: dict[str, float] = {}
    steals: dict[str, float] = {}
    for path in sorted(glob.glob(os.path.join(repo, "BENCH_LOCAL_r*.json"))):
        doc = _load(path)
        if not doc:
            continue
        base = os.path.basename(path)
        if isinstance(doc.get("st_probe_sec"), (int, float)):
            probes[base] = float(doc["st_probe_sec"])
        if isinstance(doc.get("cpu_steal_frac"), (int, float)):
            steals[base] = float(doc["cpu_steal_frac"])
    return probes, steals


def fresh_jvm_receipts(repo: str) -> dict[str, float]:
    """name -> isolated fresh-JVM WARM seconds from STREAM_BENCH_LOCAL.json
    (tools/stream_bench.py merges adjudication probes into it) -- the
    strongest evidence that a shared-session warm reading is JVM pressure,
    not a plan change."""
    doc = _load(os.path.join(repo, "STREAM_BENCH_LOCAL.json"))
    # plain entries carry stream_bench's 2-rep 'warm'; suffixed
    # adjudication entries ('{name}__5rep_r11' etc.) carry a multi-rep
    # post-JIT 'floor' -- the stronger receipt (2 reps never reach the
    # floor on this container for JIT-heavy plans).  Floors are keyed by
    # the round in the suffix and only the MOST RECENT round's floor is
    # used: a global min across history would let one fast old receipt
    # permanently lower the bar and mask later genuine regressions.
    warms: dict[str, float] = {}
    floors: dict[str, tuple[int, float]] = {}  # base -> (round, floor)
    for name, row in ((doc or {}).get("queries") or {}).items():
        if not isinstance(row, dict):
            continue
        base = name.split("__", 1)[0]
        w = row.get("warm")
        if isinstance(w, (int, float)) and w >= 0:
            warms[base] = min(warms.get(base, float("inf")), float(w))
        f = row.get("floor")
        if isinstance(f, (int, float)) and f >= 0:
            m = re.search(r"_r(\d+)$", name)
            rnd = int(m.group(1)) if m else -1
            prev = floors.get(base)
            if prev is None or rnd > prev[0] or (rnd == prev[0] and f < prev[1]):
                floors[base] = (rnd, float(f))
    out: dict[str, float] = dict(warms)
    for base, (_, f) in floors.items():
        # min with the (unversioned, refreshed-on-rerun) warm probe; older
        # rounds' floors were already dropped above.
        out[base] = min(out.get(base, float("inf")), f)
    return out


def stream_cost_splits(repo: str) -> dict[str, dict]:
    """family -> fixed/marginal drain-cost receipt rows written by
    tools/stream_cost_split.py into STREAM_BENCH_LOCAL.json."""
    doc = _load(os.path.join(repo, "STREAM_BENCH_LOCAL.json"))
    out: dict[str, dict] = {}
    for name, row in ((doc or {}).get("queries") or {}).items():
        if name.startswith("stream_cost_split__") and isinstance(row, dict):
            out[name.split("__", 1)[1]] = row
    return out


def stream_families(cur: dict) -> dict[str, str]:
    """Explicit query-name -> kvstore-family map (r12 advisor: the old
    ordered-substring heuristic silently picked the wrong family's
    fixed_s for names where a substring appears incidentally).  The map
    is written into every bench artifact by bench.py from the registry's
    STORE_FAMILY table; for artifacts predating it, fall back to reading
    the registry directly.  No heuristic path remains: an untagged
    stream query gets NO fixed-cost subtraction."""
    fams = cur.get("stream_families")
    if isinstance(fams, dict) and fams:
        return fams
    try:
        repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        if repo not in sys.path:
            sys.path.insert(0, repo)
        from odp_dynamic_data_pipeline_spark.queries import STORE_FAMILY

        return dict(STORE_FAMILY)
    except Exception:  # registry unimportable (e.g. no pyspark) -- no tags
        return {}


def sibling_colds(
    repo: str, cur_path: str, explicit: str | None
) -> dict[str, tuple[float, str]]:
    """name -> (best cold, file) over SAME-ROUND sibling maps.

    Auto-resolution only trusts maps from the same round number (same
    code); the unnumbered working map has no safe automatic sibling set,
    so it gets one only via --siblings."""
    paths: list[str] = []
    if explicit:
        for pat in explicit.split(","):
            paths.extend(glob.glob(os.path.join(repo, pat)) or glob.glob(pat))
    else:
        m = re.search(r"_r(\d+)", os.path.basename(cur_path))
        if m:
            paths = glob.glob(os.path.join(repo, f"BENCH_LOCAL_r{m.group(1)}*.json"))
    best: dict[str, tuple[float, str]] = {}
    for path in paths:
        if os.path.abspath(path) == os.path.abspath(cur_path):
            continue
        doc = _load(path)
        if not doc:
            continue
        for name, t in (doc.get("queries") or {}).items():
            if isinstance(t, (int, float)) and t >= 0:
                if name not in best or t < best[name][0]:
                    best[name] = (float(t), os.path.basename(path))
    return best


def main(argv: list[str]) -> int:
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    args = [a for a in argv if not a.startswith("--")]
    opts = {a.split("=")[0]: a.split("=", 1)[1] for a in argv if "=" in a and a.startswith("--")}
    cur_path = args[0] if args else os.path.join(repo, "BENCH_LOCAL.json")
    ratio = float(opts.get("--ratio", "2.0"))
    floor = float(opts.get("--floor", "1.0"))

    cur = _load(cur_path)
    if not cur:
        print(f"bench_drift: cannot read {cur_path}", file=sys.stderr)
        return 2
    prior = best_prior(repo, cur_path)
    if not prior:
        print("bench_drift: no prior BENCH_LOCAL_r*.json maps -- nothing to compare")
        return 0
    siblings = sibling_colds(repo, cur_path, opts.get("--siblings"))

    # host-window calibration: scale the prior bar UP (never down, capped
    # 3x) by the larger of (a) the single-thread probe ratio and (b) the
    # implied slowdown from integrated hypervisor steal, 1/(1-steal)
    # relative to the source map's steal (maps predating the field count
    # as clean).  Never scaling down is a deliberate trade: in a window
    # FASTER than the prior map's, a real regression can hide behind the
    # host speedup (accepted false negatives), in return for fewer false
    # positives from noisy slow windows.
    probes, steals = map_probes(repo)
    cur_probe = cur.get("st_probe_sec")
    cur_probe = float(cur_probe) if isinstance(cur_probe, (int, float)) else None
    cur_steal = cur.get("cpu_steal_frac")
    cur_steal = float(cur_steal) if isinstance(cur_steal, (int, float)) else None

    def _cal(b: float, src: str) -> float:
        f = 1.0
        p = probes.get(src)
        if cur_probe and p:
            f = max(f, cur_probe / p)
        if cur_steal is not None:
            src_steal = steals.get(src, 0.0)
            f = max(f, (1.0 - src_steal) / max(1e-6, 1.0 - cur_steal))
        return b * min(3.0, f)

    warm = cur.get("queries_warm") or {}
    # gating-cadence downgrade (list written by bench.py from the
    # registry): these queries time a correctness gate's deliberately
    # adversarial maintenance cadence, so a drift there is NEVER counted
    # as a flag -- it becomes a note (r12 advisor: the old behavior only
    # annotated the line, so flag-counting consumers still read it as a
    # production perf regression).  Their production-cadence twins stay
    # fully gated.
    gating = set(cur.get("gating_cadence") or [])
    fams = stream_families(cur)
    splits = stream_cost_splits(repo)
    receipts = fresh_jvm_receipts(repo)
    flags: list[str] = []
    notes: list[str] = []
    n_compared = 0
    for name, t in (cur.get("queries") or {}).items():
        if not isinstance(t, (int, float)) or t < 0 or name not in prior:
            continue
        n_compared += 1
        b, src = prior[name]
        b = _cal(b, src)
        if t <= b * ratio or (t - b) <= floor:
            continue
        line = f"{name}: cold {t:.2f}s vs best prior {b:.2f}s ({src}) = {t / max(b, 1e-9):.1f}x"
        if name in gating:
            notes.append(
                f"[gating-cadence: correctness gate, not production cost] {line}"
            )
            continue
        sib = siblings.get(name)
        if "stream" in name:
            # receipt-backed stream floor (VERDICT r11 item 5): subtract
            # the family's measured fixed drain cost from BOTH sides; a
            # regression that survives that subtraction is a real one and
            # FLAGS (the old behavior downgraded every *_stream drift).
            # Same-round siblings and isolated fresh-JVM receipts
            # exonerate first, like the batch path.
            if sib is not None and (sib[0] <= b * ratio or (sib[0] - b) <= floor):
                notes.append(f"[sibling-ok, {sib[0]:.2f}s in {sib[1]}] {line}")
                continue
            if name in receipts and (
                receipts[name] <= b * ratio or (receipts[name] - b) <= floor
            ):
                notes.append(f"[fresh-jvm-ok, {receipts[name]:.2f}s isolated] {line}")
                continue
            split = splits.get(fams.get(name) or "")
            # the ex-fixed comparison is only meaningful when the prior
            # reading is itself decomposable (b clearly above the fixed
            # cost) -- a historical cold below today's fixed cost predates
            # the current machinery and would hair-trigger on adj_b~0
            if (
                split
                and isinstance(split.get("fixed_s"), (int, float))
                and b > float(split["fixed_s"]) + floor
            ):
                fixed = float(split["fixed_s"])
                adj_t, adj_b = t - fixed, b - fixed
                if adj_t > adj_b * ratio and (adj_t - adj_b) > floor:
                    flags.append(f"[STREAM-DRIFT, ex-fixed {fixed:.1f}s] {line}")
                else:
                    notes.append(
                        f"[stream-floor fixed={fixed:.1f}s"
                        f" +{split.get('marginal_per_batch_s', 0):.2f}s/batch] {line}"
                    )
            else:
                notes.append(f"[stream-floor] {line}")
        elif name in warm and 0 <= warm[name] <= b * ratio:
            notes.append(f"[jit-noise, warm {warm[name]:.2f}s] {line}")
        elif sib is not None and (sib[0] <= b * ratio or (sib[0] - b) <= floor):
            notes.append(f"[sibling-ok, {sib[0]:.2f}s in {sib[1]}] {line}")
        else:
            flags.append(f"[DRIFT] {line}")

    # WARM drift (r9 verdict gap: containment_quotes warm doubled in the
    # final committed map and no gate caught it).  Warm readings in a
    # 320-query shared session carry JVM pressure, so the bar is looser
    # (1.4x, 0.7 s) and there is an extra downgrade: a fresh-JVM probe
    # recorded in STREAM_BENCH_LOCAL.json whose warm is inside the ratio
    # proves the in-map number was session noise.  A warm>cold inversion
    # in the same map is REPORTED alongside (it is the signature of that
    # noise) but is not by itself exonerating -- only a receipt is.
    warm_ratio = float(opts.get("--warm-ratio", "1.4"))
    warm_floor = float(opts.get("--warm-floor", "0.7"))
    prior_warm = best_prior(repo, cur_path, "queries_warm")
    cold = cur.get("queries") or {}
    n_warm = 0
    for name, t in warm.items():
        if not isinstance(t, (int, float)) or t < 0 or name not in prior_warm:
            continue
        n_warm += 1
        b, src = prior_warm[name]
        b = _cal(b, src)
        if t <= b * warm_ratio or (t - b) <= warm_floor:
            continue
        inv = ""
        if name in cold and isinstance(cold[name], (int, float)) and t > cold[name]:
            inv = f", warm>cold in-map ({cold[name]:.2f}s cold)"
        line = (
            f"{name}: warm {t:.2f}s vs best prior warm {b:.2f}s ({src})"
            f" = {t / max(b, 1e-9):.1f}x{inv}"
        )
        if name in gating:
            notes.append(
                f"[gating-cadence: correctness gate, not production cost] {line}"
            )
            continue
        if "stream" in name:
            # an isolated fresh-JVM receipt exonerates a stream warm just
            # like a batch warm (shared-session pressure hits both); the
            # same absolute floor as the flag condition applies
            if name in receipts and (
                receipts[name] <= b * warm_ratio or (receipts[name] - b) <= warm_floor
            ):
                notes.append(f"[fresh-jvm-ok, {receipts[name]:.2f}s isolated] {line}")
                continue
            split = splits.get(fams.get(name) or "")
            # decomposability condition: see the cold branch
            if (
                split
                and isinstance(split.get("fixed_s"), (int, float))
                and b > float(split["fixed_s"]) + warm_floor
            ):
                fixed = float(split["fixed_s"])
                adj_t, adj_b = t - fixed, b - fixed
                if adj_t > adj_b * warm_ratio and (adj_t - adj_b) > warm_floor:
                    flags.append(f"[STREAM-WARM-DRIFT, ex-fixed {fixed:.1f}s] {line}")
                else:
                    notes.append(f"[stream-floor fixed={fixed:.1f}s] {line}")
            else:
                notes.append(f"[stream-floor] {line}")
        elif name in receipts and (
            receipts[name] <= b * warm_ratio or (receipts[name] - b) <= warm_floor
        ):
            notes.append(f"[fresh-jvm-ok, {receipts[name]:.2f}s isolated] {line}")
        else:
            flags.append(f"[WARM-DRIFT] {line}")

    for n in notes:
        print(n)
    for f in flags:
        print(f)
    print(
        f"bench_drift: {n_compared} cold + {n_warm} warm compared,"
        f" {len(flags)} flagged, {len(notes)} downgraded (cold {ratio}x/"
        f"{floor}s, warm {warm_ratio}x/{warm_floor}s,"
        f" {len(siblings)} sibling-map queries,"
        f" st_probe={cur_probe if cur_probe is not None else 'n/a'},"
        f" steal={cur_steal if cur_steal is not None else 'n/a'})"
    )
    if flags:
        qnames = " ".join(f.split(":")[0].split("] ")[1] for f in flags)
        print(
            "bench_drift: adjudicate survivors with an isolated fresh-JVM"
            f" measurement: python tools/stream_bench.py <sf_dir>"
            f" STREAM_BENCH_LOCAL.json {qnames}"
        )
    return 1 if flags else 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
