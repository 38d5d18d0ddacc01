"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints one
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": sf}.

Each query is timed end-to-end including the terminal action. A warmup
run of the smallest query absorbs JVM/codegen startup so numbers reflect
steady-state plan execution, not session boot.
"""

from __future__ import annotations

import ast
import hashlib
import inspect
import json
import os
import re
import sys
import time
import types

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark import get_spark  # noqa: E402
import __spark_entry__ as entry_mod  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# The registry entries left out of the perf artifact, each with its
# reason (written into BENCH_DETAIL.json so absences are visible, not
# implicit). Every other entry is benched.
EXCLUDED = {
    "summary_events": "the bench warmup query itself (timed cost would double-count JVM boot)",
    "distinct_event_types": "tiny serving lookup (sub-50ms; noise dominates signal)",
    "events_window_filter": "tiny serving lookup (pruned single-partition scan)",
    "keep_metrics": "two-scalar combine over an already-benched cascade (silver_reason_counts)",
    "dropped_events": "anti-join twin of benched silver_clean (same scan + shuffle)",
    "customers_with_orders": "tiny broadcast semi-join serving lookup",
    "customers_without_orders": "tiny broadcast anti-join serving lookup",
    "events_iso_payload": "projection-only formatting over a pruned scan (no shuffle)",
    "forecast_sarimax_audit": "invariant-audit twin of benched forecast_sarimax (same fit re-run)",
    "ann_ivf_recall": "recall-audit twin of benched ann_ivf_topk + ann_topk (re-runs both)",
    "ann_ivf_trained": "MLlib KMeans fit dominated by iteration count, not data-plane cost; covered by forecast_mllib for the fit path and ann_ivf_topk for the probe path",
}

# Headline set: every registry entry not excluded above, in registry
# order.
HEADLINE = [k for k in entry_mod.queries() if k not in EXCLUDED]


def load_prev_detail(detail_path: str) -> dict | None:
    """The PRIOR round's tracked detail artifact, read once before this
    run overwrites it — drift normalization, the retime fixpoint, and
    the code-provenance check all compare against the same snapshot."""
    try:
        with open(detail_path) as fh:
            return json.load(fh)
    except (OSError, ValueError):
        return None


def drift_vs_prev(
    prev: dict | None,
    timings: dict[str, float],
    total: float,
    calib_sec: float,
) -> dict:
    """Drift-normalized round-over-round comparison (VERDICT r9
    Next #2), computed against the PRIOR tracked detail snapshot
    (``load_prev_detail`` output, read before this run overwrites it).

    calib_ratio_vs_prev = calib_now / calib_prev measures how much the
    host itself sped up or slowed down between the two recordings (the
    calibration plans read no repo data, so code changes cannot move
    them). Dividing this round's raw times by that ratio restates them
    in the prior round's machine-speed units; the shared-query delta
    and the movers list are computed on those normalized times, so a
    uniform host-drift episode (r9: every query ~1.42x, worktree A/B
    of identical code reproducing it) normalizes to ~1.0x instead of
    reading as a regression, while a real per-query plan regression
    still shows because it moves one query against a flat calib.

    Returns {} when there is no prior artifact or it predates calib
    recording — the keys are absent rather than null so a reader can
    distinguish "first run" from "computed 1.0"."""
    try:
        calib_prev = float(prev["calib_sec"])
        prev_q = {k: float(v) for k, v in prev["queries"].items()}
    except (ValueError, KeyError, TypeError):
        return {}
    if calib_prev <= 0 or calib_sec <= 0:
        return {}
    ratio = calib_sec / calib_prev
    shared = sorted(set(timings) & set(prev_q))
    out = {
        "calib_prev_sec": round(calib_prev, 4),
        "calib_ratio_vs_prev": round(ratio, 4),
        "drift_normalized_total_sec": round(total / ratio, 4),
    }
    if shared:
        cur_shared = sum(timings[k] for k in shared)
        prev_shared = sum(prev_q[k] for k in shared)
        out["shared_queries"] = len(shared)
        out["shared_total_sec"] = round(cur_shared, 4)
        out["prev_shared_total_sec"] = round(prev_shared, 4)
        if prev_shared > 0:
            out["drift_normalized_shared_delta"] = round(
                (cur_shared / ratio) / prev_shared, 4
            )
        # movers on NORMALIZED times: normalized_ratio > 1 means the
        # query got slower beyond what the host explains. Floor the
        # denominator at 50 ms — sub-noise queries produce huge
        # meaningless ratios.
        movers = {
            k: round((timings[k] / ratio) / prev_q[k], 2)
            for k in shared
            if prev_q[k] >= 0.05 and timings[k] >= 0.05
        }
        ranked = sorted(movers.items(), key=lambda kv: -kv[1])
        out["norm_movers_slower"] = dict(
            (k, v) for k, v in ranked[:8] if v >= 1.3
        )
        out["norm_movers_faster"] = dict(
            (k, v) for k, v in ranked[::-1][:8] if v <= 0.77
        )
    return out


def retime_to_fixpoint(
    timings: dict[str, float],
    prev: dict | None,
    calib_sec: float,
    run_once_fn,
    max_passes: int = 5,
) -> tuple[list[str], list[str], dict]:
    """Retime flagged slower-movers until the flagged list is STABLE
    (VERDICT r11 Next #2). The r10 version retimed only the
    *provisional* slower list and recomputed drift once — the recompute
    could surface a fresh tier of movers that never got a second run,
    and in BENCH_r11.json that is exactly what happened: the published
    ``norm_movers_slower`` was disjoint from ``movers_retimed``, i.e.
    the artifact's named regressions were single-timed after all.

    This loop iterates: retime every not-yet-retimed flagged name
    (no cap — ADVICE r11 #4: the old max_retimes=12 silently left
    overflow movers single-timed), recompute drift on the updated
    timings, repeat until no flagged name lacks a second timing.
    Convergence is fast by construction — retiming only LOWERS times,
    so the candidate pool of ≥1.3× movers shrinks monotonically and
    each pass retires ≥1 new name; ``max_passes`` is a backstop, and
    any name still single-timed at exit (run failure or backstop) is
    returned separately so the artifact DISCLOSES it instead of
    presenting a one-shot number as a regression.

    Mutates ``timings`` in place (kept number = min over all runs).
    Returns (retimed_names, single_timed_names, final_drift)."""
    attempted: set[str] = set()
    retimed: set[str] = set()
    drift = drift_vs_prev(
        prev, timings, round(sum(timings.values()), 4), calib_sec
    )
    for _ in range(max_passes):
        fresh = [
            n
            for n in drift.get("norm_movers_slower", {})
            if n not in attempted and n in timings
        ]
        if not fresh:
            break
        for name in fresh:
            attempted.add(name)
            try:
                t = run_once_fn(name)
            except Exception:  # noqa: BLE001 — a recheck must never cost the row
                continue
            timings[name] = round(min(timings[name], t), 4)
            retimed.add(name)
        drift = drift_vs_prev(
            prev, timings, round(sum(timings.values()), 4), calib_sec
        )
    single_timed = sorted(
        n for n in drift.get("norm_movers_slower", {}) if n not in retimed
    )
    return sorted(retimed), single_timed, drift


# ------------------------------------------- code-provenance fingerprints
#
# VERDICT r11 Next #6: when a flagged mover's implementing code is
# bit-identical to the prior round's, the artifact should SAY so —
# a reader can then separate plan regressions from residual host drift
# without re-measurement. Each benched query gets a deterministic
# fingerprint: sha256 over (a) the source of its entry function plus any
# entry-local helpers it calls, and (b) the content hashes of every
# package module in the transitive import closure of the modules that
# code references. Entry-file edits OUTSIDE the one function (new
# queries being added every round) do not move an existing query's
# fingerprint. Scope is static and conservative: direct global
# references from the function's code objects, closed over the
# package's module-level import graph, plus ancestor __init__ files.

_PKG = "ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark"


def _pkg_module_files() -> dict[str, str]:
    """module name -> file path for every .py file in the package."""
    root = os.path.join(os.path.dirname(os.path.abspath(__file__)), _PKG)
    out: dict[str, str] = {}
    for dirpath, _dirs, files in os.walk(root):
        for f in sorted(files):
            if not f.endswith(".py"):
                continue
            path = os.path.join(dirpath, f)
            rel = os.path.relpath(path, os.path.dirname(root))
            mod = rel[:-3].replace(os.sep, ".")
            if mod.endswith(".__init__"):
                mod = mod[: -len(".__init__")]
            out[mod] = path
    return out


def _module_import_edges(
    mod: str, path: str, known: set[str]
) -> set[str]:
    """Package modules ``mod`` imports at module level (ast-derived;
    absolute and relative forms both resolved)."""
    try:
        with open(path) as fh:
            tree = ast.parse(fh.read())
    except (OSError, SyntaxError):
        return set()
    is_pkg = path.endswith("__init__.py")
    parts = mod.split(".")
    edges: set[str] = set()

    def add(candidate: str) -> None:
        if candidate in known:
            edges.add(candidate)

    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for a in node.names:
                if a.name == _PKG or a.name.startswith(_PKG + "."):
                    add(a.name)
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                anchor = parts if is_pkg else parts[:-1]
                base = anchor[: len(anchor) - (node.level - 1)]
                target = ".".join(base + (node.module or "").split("."))
                target = target.rstrip(".")
            else:
                target = node.module or ""
            if not (target == _PKG or target.startswith(_PKG + ".")):
                continue
            add(target)
            for a in node.names:
                add(f"{target}.{a.name}")  # `from pkg.x import submod`
    return edges


def query_fingerprints(
    queries: dict, _file_hashes: dict[str, str] | None = None
) -> dict[str, str]:
    """Deterministic per-query provenance hash (see section comment).
    Queries whose callable isn't introspectable (no plain function
    source) are omitted rather than given an unstable hash.
    ``_file_hashes`` overrides the on-disk module content hashes —
    test-only hook for proving fingerprint sensitivity without
    touching real files."""
    files = _pkg_module_files()
    known = set(files)
    file_hash = {
        m: hashlib.sha256(open(p, "rb").read()).hexdigest()
        for m, p in files.items()
    }
    if _file_hashes:
        file_hash.update(_file_hashes)
    edges = {
        m: _module_import_edges(m, p, known) for m, p in files.items()
    }

    def closure(seeds: set[str]) -> set[str]:
        seen: set[str] = set()
        stack = list(seeds)
        while stack:
            m = stack.pop()
            if m in seen or m not in known:
                continue
            seen.add(m)
            # ancestor packages execute on import — part of provenance
            parts = m.split(".")
            for i in range(1, len(parts)):
                anc = ".".join(parts[:i])
                if anc in known and anc not in seen:
                    stack.append(anc)
            stack.extend(edges.get(m, ()))
        return seen

    def fn_refs(fn, visited: set[int]) -> tuple[list[str], set[str]]:
        """(entry-local helper sources incl. fn itself, seed modules)
        by walking the function's code objects' global references."""
        if id(fn) in visited:
            return [], set()
        visited.add(id(fn))
        try:
            src = inspect.getsource(fn)
        except (OSError, TypeError):
            return [], set()
        names: set[str] = set()
        stack = [fn.__code__]
        while stack:
            co = stack.pop()
            names.update(co.co_names)
            for const in co.co_consts:
                if isinstance(const, types.CodeType):
                    stack.append(const)
        sources = [src]
        seeds: set[str] = set()
        for name in sorted(names):
            obj = fn.__globals__.get(name)
            if obj is None:
                continue
            if isinstance(obj, types.ModuleType):
                mn = getattr(obj, "__name__", "")
                if mn == _PKG or mn.startswith(_PKG + "."):
                    seeds.add(mn)
            elif isinstance(obj, types.FunctionType):
                om = getattr(obj, "__module__", "") or ""
                if om == _PKG or om.startswith(_PKG + "."):
                    seeds.add(om)
                elif om == fn.__module__:  # entry-local helper: recurse
                    s2, m2 = fn_refs(obj, visited)
                    sources.extend(s2)
                    seeds.update(m2)
            else:
                om = getattr(obj, "__module__", "") or ""
                if isinstance(om, str) and (
                    om == _PKG or om.startswith(_PKG + ".")
                ):
                    seeds.add(om)
        return sources, seeds

    out: dict[str, str] = {}
    for name, fn in queries.items():
        if not isinstance(fn, types.FunctionType):
            continue
        sources, seeds = fn_refs(fn, set())
        if not sources:
            continue
        mods = sorted(closure(seeds))
        h = hashlib.sha256()
        for s in sources:
            h.update(s.encode())
        for m in mods:
            h.update(f"{m}:{file_hash[m]}\n".encode())
        out[name] = h.hexdigest()[:16]
    return out


def main() -> None:
    m = re.search(r"sf([0-9.]+)", SF_DIR)
    sf = float(m.group(1)) if m else None
    spark = get_spark("bench")
    queries = entry_mod.queries()

    # an exclusion naming no registry entry is a typo or a leftover
    # from a removed entry: fail loudly instead of carrying it
    stale = set(EXCLUDED) - set(queries)
    if stale:
        raise SystemExit(f"bench coverage drift: stale bench names {sorted(stale)}")

    # warmup: boot JVM + parquet footer reads + spawn the Python UDF
    # workers (otherwise their one-time fork cost lands on whichever
    # kernel-backed query happens to run first)
    queries["summary_events"](spark, SF_DIR).collect()
    spark.range(2048).mapInPandas(lambda it: it, "id long").count()

    # fixed machine-speed reference (reads no repo data): one
    # codegen-bound range aggregate + one 32→97-key shuffle reduction,
    # min of 3 warm runs. Recorded as calib_sec so round-over-round
    # bench comparisons can separate engine regressions from host
    # drift — r9 measured two full re-runs at ~1.25× the r8 totals
    # UNIFORMLY (different worst movers each run) while a same-host
    # worktree A/B of r8-vs-r9 code was identical; a calib shift in
    # the same ratio marks the round's numbers as host drift, a flat
    # calib marks them as real.
    def calib_once() -> float:
        t0 = time.perf_counter()
        spark.range(0, 200_000_000, 1, 32).selectExpr(
            "sum(id * 2654435761 % 1000003) as s"
        ).collect()
        spark.range(0, 8_000_000, 1, 32).selectExpr(
            "id % 97 as k", "id as v"
        ).groupBy("k").sum("v").collect()
        return time.perf_counter() - t0

    calib_once()  # codegen compile for the calib plans themselves
    calib_sec = round(min(calib_once() for _ in range(3)), 4)

    # SECOND calibration probe (r15, VERDICT r14 Next #7; additions-
    # only): the CPU-bound probe above cannot explain drift in the
    # regime most sf0.1 queries actually live in — per-job scheduler /
    # stage-launch latency (the r14 artifacts prove the floor: the
    # 8-core control run beat the 32-core run on identical code). This
    # probe times 10 sequential TINY 2-stage jobs (a 7-key shuffle of
    # 256 rows — compute is negligible, the number measures job
    # submit + stage schedule + task launch round-trips), so a drift
    # episode that moves scheduling latency but not CPU (or vice
    # versa) is now separable. Emitted ALONGSIDE calib_sec; the
    # existing drift normalization still uses calib_sec so round-over-
    # round comparisons stay methodology-identical — the sched ratio
    # is recorded for the reader (and becomes usable prev-data next
    # round).
    def calib_sched_once() -> float:
        t0 = time.perf_counter()
        for _ in range(10):
            spark.range(0, 256, 1, 8).selectExpr(
                "id % 7 as k"
            ).groupBy("k").count().collect()
        return time.perf_counter() - t0

    calib_sched_once()  # compile the tiny plan once
    calib_sched_sec = round(min(calib_sched_once() for _ in range(3)), 4)

    def run_once(name: str) -> float:
        t0 = time.perf_counter()
        df = queries[name](spark, SF_DIR)
        # noop sink materializes every column of every row (count() would
        # let Catalyst prune the projections and understate the work)
        df.write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    # two runs per query: the first pays one-time plan/codegen compile
    # (Catalyst analysis + Janino, ~1s per plan regardless of data); the
    # second is the steady-state execution a long-lived engine delivers.
    # We report steady-state per query and keep the cold total visible.
    # Each query is fenced in try/except: one regression must cost one
    # number, not the whole artifact (round 3 lost all 52 timings to a
    # single AnalysisException).
    timings: dict[str, float] = {}
    errors: dict[str, str] = {}
    cold_total = 0.0
    for name in HEADLINE:
        try:
            cold = run_once(name)
            warm = run_once(name)
            best = min(cold, warm)
            # a heavy-looking result gets one confirmation run: on this
            # shared host a single GC pause / contention burst can
            # inflate BOTH runs of one query (observed: 1.8s query
            # reported at 7s), and steady-state is what we report
            if best > 2.5:
                best = min(best, run_once(name))
        except Exception as exc:  # noqa: BLE001 — record and keep going
            errors[name] = f"{type(exc).__name__}: {exc}"[:500]
            print(f"[bench] {name} FAILED: {errors[name]}", file=sys.stderr)
            continue
        cold_total += cold
        timings[name] = round(best, 4)
    # end-of-run outlier recheck: a sustained contention burst on this
    # shared host can inflate every run of ONE query inside its window
    # (observed: minhash_lsh_pairs at 8.5 s in-sequence, 1.9 s warm
    # standalone minutes later, unchanged code). Queries > 2.5 s get one
    # more run now that the window has likely passed; min is kept.
    for name, t in sorted(timings.items(), key=lambda kv: -kv[1]):
        if t <= 2.5:
            break
        try:
            timings[name] = round(min(t, run_once(name)), 4)
        except Exception:  # noqa: BLE001 — recheck must never cost the row
            pass
    total = round(sum(timings.values()), 4)
    # Full per-query detail goes to a tracked file; the stdout line must
    # stay compact. The driver captures only the last ~2000 chars of
    # stdout, and at 103 queries the full map is ~2.6 KB — round 5's
    # official record came back `parsed: null` because the JSON line was
    # truncated mid-object. The final line therefore carries the
    # aggregate metrics plus only the 10 slowest queries (the ones a
    # perf reviewer acts on); everything else lives in BENCH_DETAIL.json
    # next to this script.
    detail = {
        "metric": "headline_queries_total_sec",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "cold_total_sec": round(cold_total, 4),
        "calib_sec": calib_sec,
        "calib_sched_sec": calib_sched_sec,
        "sf": sf,
        # registry entries deliberately not benched, with reasons
        # (VERDICT r6 ask #4: the exclusion list must be explicit)
        "excluded": EXCLUDED,
    }
    if errors:
        detail["errors"] = errors
    # The tracked BENCH_DETAIL.json is the DRIVER's per-round record
    # (default SF dir). Local rehearsals at other scales write a
    # sibling file instead — a sf0.001 verification run once clobbered
    # the tracked sf0.1 state, and cross-session numbers on this host
    # are not comparable anyway (see calib_sec).
    fname = (
        "BENCH_DETAIL.json"
        if os.path.realpath(SF_DIR) == os.path.realpath("/root/testdata/sf0.1")
        else f"BENCH_DETAIL_sf{sf}.json"
    )
    detail_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), fname
    )
    # VERDICT r9 Next #2: calib_sec must CLOSE the loop it opened —
    # the prior round's detail file (read before this run overwrites
    # it) supplies last round's calib + per-query map, and the
    # round-over-round comparison is emitted drift-normalized instead
    # of left for a reviewer to re-derive by hand. Normalization:
    # dividing this round's times by calib_ratio (= calib_now /
    # calib_prev) restates them in the prior round's machine-speed
    # units; r9's uniform 1.42x "regression" reads as ~1.0x after the
    # same correction (verified by worktree A/B of identical code).
    prev_detail = load_prev_detail(detail_path)
    # VERDICT r11 Next #2: retime-and-recompute to a FIXPOINT — every
    # name the final artifact flags as a slower-mover carries a
    # best-of-2+ timing, or is disclosed as single-timed. (The r10
    # single-pass version let the recompute surface fresh movers that
    # never got a second run: BENCH_r11's published slower list was
    # disjoint from movers_retimed.)
    retimed, single_timed, drift = retime_to_fixpoint(
        timings, prev_detail, calib_sec, run_once
    )
    total = round(sum(timings.values()), 4)
    detail["value"] = total
    if retimed:
        detail["movers_retimed"] = retimed
    if single_timed:
        # disclosure, never silence: these names appear in the slower
        # list on one timing only (run failure or pass backstop)
        detail["movers_single_timed"] = single_timed
    detail.update(drift)
    # the scheduler-bound calib ratio rides alongside (r15): once the
    # prior detail carries calib_sched_sec, a reader can split host
    # drift into its CPU and scheduling components; normalization
    # itself stays on calib_sec for methodology continuity
    try:
        prev_sched = float((prev_detail or {})["calib_sched_sec"])
        if prev_sched > 0:
            detail["calib_sched_ratio_vs_prev"] = round(
                calib_sched_sec / prev_sched, 4
            )
    except (KeyError, TypeError, ValueError):
        pass
    # VERDICT r11 Next #6: per-mover code provenance. true = the
    # query's entry function + transitive package-module closure are
    # bit-identical to the prior round's recording, so a normalized
    # slowdown there is residual drift, not a plan change; false = the
    # implementing code moved this round; null = no prior fingerprint.
    fingerprints = query_fingerprints(queries)
    prev_fps = (prev_detail or {}).get("fingerprints") or {}
    slower = drift.get("norm_movers_slower") or {}
    if slower and prev_fps:
        detail["movers_unchanged_code"] = {
            n: (
                fingerprints[n] == prev_fps[n]
                if n in fingerprints and n in prev_fps
                else None
            )
            for n in slower
        }
    detail["fingerprints"] = fingerprints
    with open(detail_path, "w") as fh:
        json.dump(detail, fh, indent=1, sort_keys=True)
        fh.write("\n")
    worst = dict(sorted(timings.items(), key=lambda kv: -kv[1])[:10])
    out = {
        "metric": "headline_queries_total_sec",
        "value": total,
        "unit": "sec",
        "sf": sf,
        "n_queries": len(timings),
        "n_errors": len(errors),
        "cold_total_sec": round(cold_total, 4),
        "calib_sec": calib_sec,
        "calib_sched_sec": calib_sched_sec,
        # "queries" deliberately holds only the 10 slowest (full map in
        # the detail file) so this line always fits the tail capture
        "queries": worst,
        "queries_truncated_to": 10,
        "detail_file": "BENCH_DETAIL.json",
    }
    # the drift-normalized round-over-round verdict rides the compact
    # line too (VERDICT r9 Next #2 done-condition: BENCH_r10.json
    # carries calib_ratio_vs_prev + drift_normalized_total_sec); the
    # full movers analysis lives in the detail file
    for k in (
        "calib_ratio_vs_prev",
        "drift_normalized_total_sec",
        "drift_normalized_shared_delta",
    ):
        if k in drift:
            out[k] = drift[k]
    if "calib_sched_ratio_vs_prev" in detail:
        out["calib_sched_ratio_vs_prev"] = detail[
            "calib_sched_ratio_vs_prev"
        ]
    line = json.dumps(out)
    if len(line) > 1500:  # hard guarantee: never outgrow the tail capture
        out.pop("queries", None)
        line = json.dumps(out)
    print(line)
    spark.stop()


if __name__ == "__main__":
    main()
