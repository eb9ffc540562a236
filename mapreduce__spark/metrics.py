"""Phase timing — the engine's counterpart of the reference's job log.

The reference appends thread lifecycle lines and per-phase wall times
("Map and Shuffle took X ns", "Reduce took Y ns") to a hidden log file
(MapReduceFramework.cpp:107-219, log name at :20, writes at :637-643).
Spark's own event log / UI supersedes the thread-level detail; what's
worth keeping is the per-phase wall-clock record, kept here as the
reference job-log parity feature (SURVEY.md F11) for users of the kernel.

`PhaseTimer` is deliberately tiny: name a phase, `with` it, read or dump
the records. Timestamps use the reference's [DD.MM.YYYY HH:MM:SS] framing
for the log lines; durations are reported in nanoseconds like the
reference's printTotalTime (which its README then mislabels "ms" —
BASELINE.md caveat 1; we label honestly).
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class PhaseTimer:
    records: list[tuple[str, int]] = field(default_factory=list)

    @contextmanager
    def phase(self, name: str):
        t0 = time.perf_counter_ns()
        try:
            yield
        finally:
            self.records.append((name, time.perf_counter_ns() - t0))

    def durations_ns(self) -> dict[str, int]:
        out: dict[str, int] = {}
        for name, ns in self.records:
            out[name] = out.get(name, 0) + ns
        return out

    def log_lines(self) -> list[str]:
        stamp = time.strftime("[%d.%m.%Y %H:%M:%S]")
        return [f"{stamp} {name} took {ns} ns" for name, ns in self.records]

    def write(self, path: str) -> None:
        with open(path, "a") as fh:
            for line in self.log_lines():
                fh.write(line + "\n")


def observe_counts(df, name: str, /, **aggs):
    """Attach named accumulator-backed metrics to a DataFrame without a
    second scan (df/name are positional-only so a metric legitimately
    named "name" or "df" can pass through **aggs without a TypeError;
    NOTE this made a keyword call like ``observe_counts(df, name="x")``
    a TypeError — an intentional API break, no such call site exists
    in-repo): `pyspark.sql.Observation` collects the given aggregate
    expressions as a side effect of whatever action the caller runs —
    the production way to count quality-gate keeps/drops inside a 100 TB
    pipeline pass (a separate .count() per stage would re-run the scan
    per metric).

    Returns (df_with_observation, observation); read `observation.get`
    AFTER an action has consumed the DataFrame.

    Example::

        flagged = docs.select(..., keep_expr.alias("keep"))
        flagged, obs = observe_counts(
            flagged, "quality",
            n=F.count(F.lit(1)),
            kept=F.sum(F.col("keep").cast("long")),
        )
        flagged.where("keep").write.parquet(out)
        stats = obs.get  # {'n': ..., 'kept': ...} — no extra scan
    """
    from pyspark.sql import Observation

    obs = Observation(name)
    return df.observe(obs, *[c.alias(a) for a, c in aggs.items()]), obs
