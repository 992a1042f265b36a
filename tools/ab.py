#!/usr/bin/env python
"""Same-session A/B of query arms: the repo's one measurement protocol.

Each arm runs once untimed, which warms its plan and pays one-off side
effects (a bucketed twin's first-use layout write); that pass also
collects its result. The arms' canonicalised results must be equal, or
the harness refuses to time them. Then the arms run interleaved, REPS
rounds, each run into Spark's ``noop`` sink with
``session.free_checkpoints`` before it. One JSON line reports each
arm's min and median seconds, its ratio to the first arm's min, and,
for Spark arms, what the first timed run did as the SQL status store's
final plan graphs record it: exchanges, shuffle records and MiB written,
and rows read by scans. These cover every execution the run triggered,
eager ``localCheckpoint`` fragments included.

An arm is
  ``q_name``                the registered query with its ``confs``;
  ``q_name+noconfs``        the same without its registered ``confs``;
  ``q_name+key=value``      with an extra session conf (repeatable);
  ``duckdb:q_name``         its oracle SQL on DuckDB over the same
                            parquet views (``tests.oracle``), timed as a
                            full Arrow fetch.

A code change is measured by running the same command in the parent's
checkout and the change's, alternating; the old code lives in git.

Usage: python tools/ab.py [--sf DIR] [--reps N] ARM [ARM ...]
  e.g. python tools/ab.py q_tpch_q4 q_tpch_q4_bucketed
       python tools/ab.py q_explode+noconfs q_explode
       python tools/ab.py q_tpch_q8 \\
           q_tpch_q8+spark.sql.autoBroadcastJoinThreshold=-1
"""

from __future__ import annotations

import argparse
import dataclasses
import json
import os
import re
import statistics
import sys
import time

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO_ROOT not in sys.path:
    sys.path.insert(0, REPO_ROOT)

from duckdb_pst_spark.registry import QuerySpec, applied_confs, load_all  # noqa: E402
from tests.oracle import _normalize, duck_connection  # noqa: E402


class ResultMismatch(AssertionError):
    """The arms' results differ, so timing them would compare nothing."""


@dataclasses.dataclass
class Arm:
    label: str
    spec: QuerySpec  # confs already adjusted for this arm
    duckdb: bool = False


def parse_arm(label: str, specs: dict[str, QuerySpec]) -> Arm:
    if label.startswith("duckdb:"):
        spec = specs[label.split(":", 1)[1]]
        if spec.oracle is None:
            raise ValueError(f"{spec.name} has no oracle SQL")
        return Arm(label, spec, duckdb=True)
    name, *mods = label.split("+")
    spec = specs[name]
    confs = spec.confs
    for mod in mods:
        if mod == "noconfs":
            confs = ()
        elif "=" in mod:
            confs += (tuple(mod.split("=", 1)),)
        else:
            raise ValueError(f"bad arm modifier {mod!r} in {label!r}")
    return Arm(label, dataclasses.replace(spec, confs=confs))


def _run(spark, arm: Arm, sf_dir: str, con, sink: str):
    """Run one arm to completion; ``sink`` is "collect" or "noop"."""
    if arm.duckdb:
        tbl = con.execute(arm.spec.oracle).fetch_arrow_table()
        return list(tbl.column_names), [tuple(d.values()) for d in tbl.to_pylist()]
    with applied_confs(spark, arm.spec):
        df = arm.spec.builder(spark, sf_dir)
        if sink == "noop":
            return df.write.mode("overwrite").format("noop").save()
        return df.columns, [tuple(r) for r in df.collect()]


def _timed(spark, arm: Arm, sf_dir: str, con) -> float:
    t0 = time.perf_counter()
    _run(spark, arm, sf_dir, con, "noop")
    return time.perf_counter() - t0


def _metric_total(s: str) -> float:
    """A status-store metric string ('1,234' or 'total (min, med, max)\\n
    12.5 MiB (...)') as one number: records, or bytes for sizes."""
    m = re.search(r"([\d.,]+)\s*(B|KiB|MiB|GiB|TiB)?", s.splitlines()[-1])
    if not m:
        return 0.0
    unit = {"KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}.get(m.group(2), 1)
    return float(m.group(1).replace(",", "")) * unit


def _drained_store(spark):
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    return spark._jsparkSession.sharedState().statusStore()


def plan_stats(spark, first_execution: int) -> dict:
    """Exchanges, shuffle records/MiB and scan rows over the final plan
    graphs of every SQL execution from ``first_execution`` on."""
    store = _drained_store(spark)
    execs = store.executionsList()
    exchanges, records, nbytes, scan_rows = 0, 0.0, 0.0, 0.0
    for k in range(first_execution, execs.size()):
        eid = execs.apply(k).executionId()
        values = store.executionMetrics(eid)
        nodes = store.planGraph(eid).allNodes()
        for i in range(nodes.size()):
            node = nodes.apply(i)
            is_exchange = node.name() == "Exchange"  # not Broadcast/Reused
            is_scan = node.name().startswith(("Scan ", "BatchScan "))
            exchanges += is_exchange
            metrics = node.metrics()
            for j in range(metrics.size()):
                m = metrics.apply(j)
                v = values.get(m.accumulatorId())
                if v.isEmpty():
                    continue
                if is_exchange and m.name() == "shuffle records written":
                    records += _metric_total(v.get())
                elif is_exchange and m.name() == "shuffle bytes written":
                    nbytes += _metric_total(v.get())
                elif is_scan and m.name() == "number of output rows":
                    scan_rows += _metric_total(v.get())
    return {"exchanges": exchanges, "shuffle_records": int(records),
            "shuffle_mib": round(nbytes / 2**20, 2), "scan_rows": int(scan_rows)}


def run_ab(spark, labels: list[str], sf_dir: str, reps: int = 3) -> dict:
    """Warm and pin every arm, then time them interleaved; see module doc."""
    from duckdb_pst_spark.session import free_checkpoints

    specs = load_all()
    arms = [parse_arm(label, specs) for label in labels]
    con = duck_connection(sf_dir) if any(a.duckdb for a in arms) else None
    try:
        pinned = None
        for arm in arms:
            got = _normalize(*_run(spark, arm, sf_dir, con, "collect"))
            free_checkpoints(spark)
            pinned = pinned or got
            if got != pinned:
                raise ResultMismatch(
                    f"{arm.label} differs from {arms[0].label}: {len(got[1])} vs "
                    f"{len(pinned[1])} rows, columns {got[0]} vs {pinned[0]}; "
                    "not timing")
        times = {a.label: [] for a in arms}
        stats = {}
        for rep in range(reps):
            for arm in arms:
                free_checkpoints(spark)
                before = _drained_store(spark).executionsList().size()
                times[arm.label].append(_timed(spark, arm, sf_dir, con))
                if rep == 0 and not arm.duckdb:
                    stats[arm.label] = plan_stats(spark, before)
    finally:
        if con is not None:
            con.close()
    base = min(times[arms[0].label])
    out = []
    for arm in arms:
        t = times[arm.label]
        row = {"arm": arm.label, "min_s": round(min(t), 4),
               "median_s": round(statistics.median(t), 4),
               "ratio": round(min(t) / base, 3) if base else None}
        row.update(stats.get(arm.label, {}))
        out.append(row)
    return {"sf_dir": sf_dir, "reps": reps, "rows": len(pinned[1]), "arms": out}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("arms", nargs="+", metavar="ARM")
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR"),
                    help="parquet corpus (default $SPARK_GRAFT_SF_DIR)")
    ap.add_argument("--reps", type=int, default=3)
    args = ap.parse_args()
    if not args.sf:
        ap.error("--sf or $SPARK_GRAFT_SF_DIR is required")
    from duckdb_pst_spark.session import get_spark

    spark = get_spark("ab", extra_conf={"spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    try:
        print(json.dumps(run_ab(spark, args.arms, args.sf, args.reps)))
    except ResultMismatch as exc:
        sys.exit(f"ab: {exc}")
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
