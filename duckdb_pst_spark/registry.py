"""Central query registry.

Every operator from SURVEY.md §2 registers a ``QuerySpec`` here; the
driver contract (``__spark_entry__.py``) and ``bench.py`` both read from
this one place. ``oracle`` is the ANSI-SQL equivalent DuckDB runs on the
same parquet views for the correctness gate (None → rows-only check for
genuinely non-SQL-expressible ops).

The driver hash-checks only the first ``DRIVER_WINDOW`` queries of
``load_all()`` each round and writes the results to
``CORRECTNESS_r<N>.json``. ``load_all()`` therefore orders the registry
from those records: never-green queries first, then queries whose latest
check failed, then the rest oldest-green first, rows-only last. Checking
the stalest prefix each round bounds how long any query goes unverified,
and the window rotates by itself as each round's record is added.
"""

from __future__ import annotations

import json
import os
import re
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

Builder = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    builder: Builder
    oracle: str | None = None
    tags: tuple[str, ...] = ()
    bench: bool = False  # include in bench.py headline set
    doc: str = ""
    # Per-query session-conf overrides a deployment should apply while
    # running this query (and ONLY this query — e.g. the 64 MB broadcast
    # threshold cures Q16/Q11 but was measured to REGRESS Q7, which is
    # why this is a per-query knob and not a session default). Applied
    # by bench.py via applied_confs(); never mutated mid-session without
    # restore. Results must be conf-independent — the driver's
    # correctness gate runs builders WITHOUT these overrides.
    confs: tuple[tuple[str, str], ...] = ()
    # Optional fixed corpus for the bench row (bench.py uses it instead
    # of $SPARK_GRAFT_SF_DIR and reports it under "bench_dir_overrides").
    # For queries whose full-sf cost would dominate the headline total
    # (q_triangle_count_pte: 38.6 s at sf0.1 vs 4.1 s at sf0.01) a capped
    # corpus keeps round-over-round regression visibility at fixed cost.
    bench_dir: str | None = None
    # Set when `oracle` is a constant-pinned VALUES golden generated at a
    # FIXED corpus (tools/pin_goldens.py): the oracle equality only holds
    # at this sf_dir, so the parity harness compares builder and oracle
    # there regardless of the ambient test corpus. The driver's gate runs
    # at sf0.01 — every pinned_sf is sf0.01. The media-fixture goldens
    # are registered WITHOUT pinned_sf: their input is the repo's own
    # deterministic fixture, not the sf corpus, so the golden holds at
    # any sf_dir.
    pinned_sf: str | None = None


REGISTRY: dict[str, QuerySpec] = {}


def register(spec: QuerySpec) -> QuerySpec:
    if spec.name in REGISTRY:
        raise ValueError(f"duplicate query name {spec.name!r}")
    REGISTRY[spec.name] = spec
    return spec


def query(
    name: str,
    *,
    oracle: str | None = None,
    tags: tuple[str, ...] = (),
    bench: bool = False,
    confs: tuple[tuple[str, str], ...] = (),
    bench_dir: str | None = None,
    pinned_sf: str | None = None,
):
    """Decorator form: @query("q_x", oracle="SELECT ...")."""

    def deco(fn: Builder) -> Builder:
        register(
            QuerySpec(
                name, fn, oracle=oracle, tags=tags, bench=bench,
                doc=fn.__doc__ or "", confs=confs, bench_dir=bench_dir,
                pinned_sf=pinned_sf,
            )
        )
        return fn

    return deco


#: Confs whose value is a comma-separated list: a spec's entries join
#: the session's for the query instead of replacing them.
_LIST_CONFS = frozenset({"spark.sql.optimizer.excludedRules"})


def applied_confs(spark: SparkSession, spec: QuerySpec):
    """Context manager: set the spec's session-conf overrides, restore
    the previous values (or unset) on exit. The shipped mechanism for
    per-query deployment knobs — bench.py and tools/ab.py wrap every
    run in it, so a spec's measured cure (e.g. Q16/Q11's 64 MB broadcast
    threshold) rides the artifact a user actually runs.
    List-valued confs (``_LIST_CONFS``) are merged into the session's
    value, so a session-excluded optimizer rule stays excluded."""
    from contextlib import contextmanager

    @contextmanager
    def _cm():
        saved: list[tuple[str, str | None]] = []
        for k, v in spec.confs:
            try:
                old = spark.conf.get(k)
            except Exception:
                old = None
            saved.append((k, old))
            if k in _LIST_CONFS and old:
                items = [s.strip() for s in f"{old},{v}".split(",") if s.strip()]
                v = ",".join(dict.fromkeys(items))
            spark.conf.set(k, v)
        try:
            yield spark
        finally:
            for k, old in reversed(saved):
                if old is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, old)

    return _cm()


#: How many queries the driver hash-checks: the first this many of
#: load_all(), once per round.
DRIVER_WINDOW = 50

_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_RECORD_FILE = re.compile(r"CORRECTNESS_r(\d+)\.json")


def correctness_records(root: str = _REPO_ROOT) -> list[dict[str, dict]]:
    """The driver's per-round results, ``CORRECTNESS_r<N>.json`` at the
    repo root, oldest round first. Each maps query name to its row
    (``hash_match``, ``err``, ...)."""
    rounds = sorted(
        (int(m.group(1)), m.group(0))
        for m in map(_RECORD_FILE.fullmatch, os.listdir(root)) if m
    )
    out = []
    for _n, fname in rounds:
        with open(os.path.join(root, fname)) as f:
            out.append(json.load(f))
    return out


def verify_order(
    specs: dict[str, QuerySpec], records: list[dict[str, dict]]
) -> list[str]:
    """Spec names in the order the driver should check them, given the
    per-round records oldest first. A record row is green when
    ``hash_match`` is true and ``err`` is null. The order is:

    1. oracle-bearing specs no record shows green;
    2. specs whose most recent record is a failure;
    3. the rest by the round they were last green, oldest first;
    4. rows-only specs, which can never go green.

    Each group, and each round within group 3, keeps registration order.
    Record rows naming an unregistered query are ignored: records are
    written from ``load_all()``'s own names, so such a row belongs to a
    retired query. A renamed query thus has no green record under its
    new name and sorts into group 1."""
    last_green: dict[str, int] = {}
    failed_last: set[str] = set()
    for rnd, rec in enumerate(records):
        for name, row in rec.items():
            if name not in specs:
                continue
            if row.get("hash_match") is True and row.get("err") is None:
                last_green[name] = rnd
                failed_last.discard(name)
            else:
                failed_last.add(name)

    def rank(name: str) -> tuple[int, int]:
        if specs[name].oracle is None:
            return (3, 0)
        if name not in last_green:
            return (0, 0)
        if name in failed_last:
            return (1, 0)
        return (2, last_green[name])

    return sorted(specs, key=rank)  # stable: ties keep registration order


def load_all() -> dict[str, QuerySpec]:
    """Import every operator module so its @query decorators run, and
    return the registry in driver-check order (``verify_order`` over
    ``correctness_records()``; registration order when there are none).

    The driver hash-checks only a prefix of this dict, so the order is
    what gets re-verified: unproven and failing queries first, then the
    longest-unchecked green ones. As each round's record lands, the
    window moves on to the next-stalest block, which bounds how many
    rounds any query can go unchecked to about registry size / window."""
    from duckdb_pst_spark.operators import (  # noqa: F401
        bucketed,
        dedup,
        join_strategies,
        pipeline,
        recursive,
        relational,
        sampling,
        similarity,
        sketches,
        text,
        windows,
    )
    from duckdb_pst_spark.multimodal import queries as _mm_queries  # noqa: F401
    from duckdb_pst_spark.sources.mspst import queries as _pstbin_queries  # noqa: F401
    from duckdb_pst_spark.streaming import events as _streaming_events  # noqa: F401
    from duckdb_pst_spark.streaming import stateful as _streaming_stateful  # noqa: F401

    order = verify_order(REGISTRY, correctness_records())
    rows_only_in_window = [n for n in order[:DRIVER_WINDOW] if REGISTRY[n].oracle is None]
    if rows_only_in_window:
        raise ValueError(
            f"rows-only specs may not occupy window slots: {rows_only_in_window}"
        )
    return {n: REGISTRY[n] for n in order}
