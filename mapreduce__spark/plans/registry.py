"""Named-query registry.

Every engine operator from SURVEY.md §2b is declared here as a named query:
a callable ``(spark, sf_dir) -> DataFrame`` plus, when the semantics are
SQL-expressible, an equivalent ANSI-ish SQL string the DuckDB oracle runs
on the same parquet files. ``__spark_entry__.queries()`` / ``oracle_sql()``
are thin views over this registry.

Contract notes (driver compare):
* the driver sorts columns by NAME before value-hashing — so every
  computed column is aliased identically in the DataFrame code and the SQL;
* the hash is order-insensitive over rows — ORDER BY is kept in both
  sides only where ordering is part of the operator's semantics;
* float columns are rounded in BOTH sides (same digits) so summation-order
  drift between Spark and DuckDB cannot flip the hash;
* round(double, d) itself is a dialect boundary: at exact decimal ties the
  engines disagree (Spark 4 rounds the shortest decimal representation —
  round(1.005, 2) = 1.01 — while DuckDB multiplies-then-rounds to 1.0).
  The fixtures' money/value columns are exactly 2-decimal, so every
  round(x, 2) of a raw column is tie-free by construction; queries that
  round DERIVED values round either at the value's true decimal precision
  (where rounding is a no-op both engines agree on — the decimal-sum
  idiom) or at 4-6 digits of quantities whose low bits were already made
  bit-identical. New queries must preserve one of those three shapes.
* ROUNDING BIT-IDENTICAL DOUBLES IS NOT ALWAYS SAFE (the round-7
  events_ewma lesson): when the exact value's shortest decimal lands ON
  a half-tie at the rounded digit (S/2^(m-1) = 0.0009375 at 6 digits,
  20001/20000 = 1.00005 at 4), Spark HALF_UPs the shortest-decimal
  string while DuckDB/Python round the binary value — same input bits,
  different output. Corollary: a value that is already a single
  correctly-rounded op over exact integers (int/int division, an
  IEEE-exact sqrt chain) must be emitted RAW — it is bit-identical by
  construction and rounding can only break it. round() is for values
  whose low bits genuinely differ across engines (libm outputs,
  order-varying float sums), never for exact-arithmetic results.
"""

from __future__ import annotations

import glob
import json
import os
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class Query:
    name: str
    fn: QueryFn
    oracle: str | None  # None => non-SQL-expressible; driver does rows-only
    doc: str = ""
    tags: tuple[str, ...] = field(default_factory=tuple)


REGISTRY: dict[str, Query] = {}


def query(name: str, oracle: str | None = None, tags: tuple[str, ...] = ()):
    """Decorator registering an engine query."""

    def wrap(fn: QueryFn) -> QueryFn:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        REGISTRY[name] = Query(
            name=name, fn=fn, oracle=oracle, doc=(fn.__doc__ or "").strip(), tags=tags
        )
        return fn

    return wrap


# The driver's CORRECTNESS harness checks only the FIRST 50 registry
# entries, so ordering is part of the verification contract. The window is
# derived from the checked-in CORRECTNESS_r*.json records, so it comes out
# the same whenever the records are the same. Oracle-bearing queries rank
# by (tier, last green round, registration index); the tiers, in order:
#   0. no green driver row yet;
#   1. code changed since its last green row (CHANGED_SINCE);
#   2-4. exactly 1, 2 or 3 green rows, least recently attested first.
# A query with SATURATED_AT or more green rows retires unless its code
# changed. The rows-only queries never enter the window, so the driver
# report has no ambiguous "no oracle" rows (README §correctness). Queries
# outside the window stay bit-exact-gated by tests/test_oracle.py.
ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
WINDOW_SIZE = 50
SATURATED_AT = 4

# The only hand-kept input: query -> newest record round taken before its
# code changed. An entry stops counting once the query has a green row from
# a later round, so it never needs removing after the driver re-attests.
# Round 15's record predates the driver paths of connected_components,
# k_core_layers, count_triangles, propagate_mass, pq_fit / kmeans_fit and
# kmeans_assign, and the sort-merge verification joins of
# lsh_near_duplicate_pairs; these are every registered query that calls one.
CHANGED_SINCE: dict[str, int] = dict.fromkeys(
    (
        # lsh_near_duplicate_pairs (the next two and both pipelines too)
        "dedup_lsh_minhash",
        # connected_components
        "entity_resolution_parts",
        "training_data_pipeline",
        "training_data_pipeline_full",
        "dedup_clusters",
        "dedup_keep_best",
        # k_core_layers, count_triangles, propagate_mass
        "k_core_peel",
        "graph_triangles",
        "graph_mass_propagation",
        "graph_mass_propagation_k4",
        # pq_fit, kmeans_fit and kmeans_assign
        "embedding_pq_codes",
        "ann_topk_pq_adc",
        "kmeans_embeddings",
        "embedding_cluster_outliers",
        "cluster_balanced_sample",
        "semantic_dedup",
    ),
    15,
)


def green_rows(max_round: int | None = None) -> list[tuple[str, int]]:
    """(query, round) for every green row in the CORRECTNESS_r*.json
    records up to max_round (all when None): rows, schema and value hash
    all matched with no error."""
    rows: list[tuple[str, int]] = []
    for path in sorted(glob.glob(os.path.join(ROOT, "CORRECTNESS_r*.json"))):
        rnd = int("".join(c for c in os.path.basename(path) if c.isdigit()))
        if max_round is not None and rnd > max_round:
            continue
        with open(path) as f:
            data = json.load(f)
        rows += [
            (name, rnd)
            for name, row in data.items()
            if row.get("rows_match")
            and row.get("schema_match")
            and row.get("hash_match")
            and not row.get("err")
        ]
    return rows


def driver_window(rows: list[tuple[str, int]]) -> list[str]:
    """The WINDOW_SIZE best-ranked oracle-bearing queries given green
    (query, round) rows, best first."""
    count: dict[str, int] = {}
    last: dict[str, int] = {}
    for name, rnd in rows:
        count[name] = count.get(name, 0) + 1
        last[name] = max(rnd, last.get(name, 0))
    ranked = []
    for index, (name, q) in enumerate(REGISTRY.items()):
        greens = count.get(name, 0)
        if q.oracle is None:
            continue
        if greens == 0:
            tier = 0
        elif last[name] <= CHANGED_SINCE.get(name, 0):
            tier = 1
        elif greens < SATURATED_AT:
            tier = 1 + greens
        else:
            continue
        ranked.append((tier, last.get(name, 0), index, name))
    return [name for *_, name in sorted(ranked)[:WINDOW_SIZE]]


def ordered_names() -> list[str]:
    """Registry names with the driver-checked window first (best-ranked
    first), then all remaining queries in registration order."""
    window = driver_window(green_rows())
    inside = set(window)
    return window + [n for n in REGISTRY if n not in inside]


def get_queries() -> dict[str, QueryFn]:
    return {n: REGISTRY[n].fn for n in ordered_names()}


def get_oracle_sql() -> dict[str, str]:
    # binaryfile_ingest's oracle reads the staged fixture directory with
    # read_blob, and the driver may run oracles before (or without) the
    # matching Spark halves — so requesting the oracle surface stages the
    # fixture corpora. Late import: tier2_text imports this module at
    # load, but by call time it is fully initialized (first-use lazy
    # staging, round-9 verdict item 6 — module import touches no
    # filesystem).
    from mapreduce__spark.plans import tier2_text

    tier2_text.stage_fixture_corpora()
    return {
        n: REGISTRY[n].oracle for n in ordered_names() if REGISTRY[n].oracle is not None
    }
