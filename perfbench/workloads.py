"""The three benchmark workloads.

Each workload generates its inputs (the mrlite inputs from the seed, the
engine tables from a fixed seed), warms the session up
(part of set-up), runs one closed-loop operation at a time, checks every
output against ground truth and, from a traced run, derives the
per-layer numbers of the layers it exercises.
"""

from __future__ import annotations

import glob
import os
import random
import statistics
import sys
import traceback
from collections import Counter
from dataclasses import dataclass, field

import numpy as np

import inputs
from tracing import Attribution, Span, Spans

from inf2106_map_reduce_spark.mrlite.job import Job, word_count_job
from inf2106_map_reduce_spark.mrlite.tokenformat import read_token_file, write_token_file

MB = 1e6


@dataclass
class Outcome:
    """One closed-loop operation: an mrlite job or one pass of the mix."""

    span: Span
    ok: bool
    attempted: int = 1
    failed: int = 0
    #: the spans of its queries that succeeded (a job is its own query)
    queries: list[Span] = field(default_factory=list)


def _report_failure(what: str) -> None:
    print(f"[perfbench] {what} failed:\n{traceback.format_exc()}", file=sys.stderr)


def _attempt(what: str, call) -> bool:
    """Run one operation of the closed loop; a failure is reported and
    counted, and the loop goes on."""
    try:
        call()
    except Exception:
        _report_failure(what)
        return False
    return True


def _stage_wall(att: Attribution, stage_ids) -> float:
    return sum(att.stage_info[s]["complete"] - att.stage_info[s]["submit"] for s in stage_ids)


def _part_files(out_dir: str) -> list[str]:
    return sorted(glob.glob(os.path.join(out_dir, "part-*")))


def java_string_hashcode(keys: list[str]) -> np.ndarray:
    """Java ``String.hashCode`` of equal-length ASCII keys, vectorised."""
    chars = np.frombuffer("".join(keys).encode("ascii"), dtype=np.uint8)
    chars = chars.reshape(len(keys), -1).astype(np.int64)
    h = np.zeros(len(keys), dtype=np.int64)
    for col in chars.T:
        h = (h * 31 + col) & 0xFFFFFFFF
    return np.where(h >= 2**31, h - 2**32, h)


# ---------------------------------------------------------------------------
# mrlite workloads
# ---------------------------------------------------------------------------


def identity_map(key: str, value: str):
    return [(key, value)]


def identity_reduce(key: str, values: list[str]):
    return [(key, v) for v in values]


class MrWorkload:
    """An mrlite job over one generated token file, written back out
    with the token writer and checked record by record."""

    def __init__(self, run_dir: str, seed: int, cpus: int) -> None:
        self.dir = os.path.join(run_dir, "mr")
        self.seed = seed
        self.cpus = cpus
        self.input = os.path.join(self.dir, "input.txt")
        self.out = os.path.join(self.dir, "out")

    def job(self) -> Job:
        raise NotImplementedError

    def generate(self) -> None:
        """Write the input as one text file, as the package's corpus
        seeder does, so the reader's own splitting sets the map tasks."""
        os.makedirs(self.dir)
        self.truth = self.write_input(self.input)
        self.input_mb = os.path.getsize(self.input) / MB

    def write_input(self, path: str):
        """Write the seeded input to ``path``; return its ground truth."""
        raise NotImplementedError

    def verify(self) -> bool:
        """Check the job output in ``self.out`` against ``self.truth``."""
        raise NotImplementedError

    #: untimed jobs over the input before measuring
    WARMUP_JOBS = 3

    def warm_up(self, spark, spans: Spans) -> tuple[int, int]:
        failed = 0
        for _ in range(self.WARMUP_JOBS):
            with spans.span("warmup.job", "setup"):
                self.job().run(spark, self.input, self.out)
            failed += not self.verify()
        return self.WARMUP_JOBS, failed

    def check_outputs(self, spark) -> tuple[int, int]:
        """Every job's output is already checked as it completes."""
        return 0, 0

    def operation(self, spark, spans: Spans, index: int) -> Outcome:
        with spans.span(f"{self.name}.job", "op") as span:
            ran = _attempt(span.name, lambda: self.job().run(spark, self.input, self.out))
        ok = ran and self.verify()
        return Outcome(span, ok, failed=int(not ok), queries=[span] if ok else [])

    def probes(self, spark, spans: Spans) -> dict:
        """Layer probes for the traced run, outside the measured loop."""
        with spans.span("probe.read_token_file", "probe") as read:
            records_in = read_token_file(spark, self.input).count()
        result = self.job().transform(read_token_file(spark, self.input))
        materialised = result.localCheckpoint(eager=True)
        with spans.span("probe.write_token_file", "probe") as write:
            write_token_file(materialised, os.path.join(self.dir, "probe_out"))
        return {"read_s": read.wall, "records_in": records_in, "write_s": write.wall}

    def layer_metrics(self, att: Attribution, ops, passes: int, probes: dict,
                      listener=None) -> dict:
        per = {k: [] for k in ("map_s", "reduce_s", "shuffle_records", "shuffle_bytes",
                               "shuffle_write_s", "fetch_wait_s", "output_bytes",
                               "input_bytes", "splits")}
        skews = []
        for op in ops:
            tasks = att.tasks[op.id]
            map_stages = {t.stage for t in tasks if t.shuffle_write_records}
            red_stages = {t.stage for t in tasks if t.shuffle_read_bytes}
            map_tasks = [t for t in tasks if t.stage in map_stages]
            red_tasks = [t for t in tasks if t.stage in red_stages]
            per["map_s"].append(_stage_wall(att, map_stages))
            per["reduce_s"].append(_stage_wall(att, red_stages))
            per["shuffle_records"].append(sum(t.shuffle_write_records for t in map_tasks))
            per["shuffle_bytes"].append(sum(t.shuffle_write_bytes for t in map_tasks))
            per["shuffle_write_s"].append(sum(t.shuffle_write_ns for t in map_tasks) / 1e9)
            per["fetch_wait_s"].append(sum(t.fetch_wait_ms for t in red_tasks) / 1e3)
            per["output_bytes"].append(sum(t.output_bytes for t in red_tasks))
            per["input_bytes"].append(sum(t.input_bytes for t in map_tasks))
            per["splits"].append(len(map_tasks))
            reads = [t.shuffle_read_bytes for t in red_tasks]
            if reads:
                skews.append(max(reads) / statistics.median(reads))
        mean = {k: statistics.fmean(v) if v else 0.0 for k, v in per.items()}
        return {
            "sources.read_s": probes["read_s"],
            "sources.input_mb": mean["input_bytes"] / MB,
            "sources.records_in": probes["records_in"],
            "sources.splits": mean["splits"],
            "mrlite.map_stage_s": mean["map_s"],
            "mrlite.combine_ratio": mean["shuffle_bytes"] / mean["input_bytes"],
            "mrlite.shuffle_records": mean["shuffle_records"],
            "mrlite.reduce_stage_s": mean["reduce_s"],
            "mrlite.shuffle_write_mb": mean["shuffle_bytes"] / MB,
            "mrlite.shuffle_write_s": mean["shuffle_write_s"],
            "mrlite.shuffle_fetch_wait_s": mean["fetch_wait_s"],
            "mrlite.reduce_skew": statistics.fmean(skews) if skews else 0.0,
            "mrlite.write_s": probes["write_s"],
            "mrlite.output_mb": mean["output_bytes"] / MB,
        }


class MrWordCount(MrWorkload):
    """The reference application: word count with the combiner on."""

    name = "mr_wordcount"
    records = 150_000

    def job(self) -> Job:
        return word_count_job(num_reducers=self.cpus, combine=True)

    def write_input(self, path):
        return inputs.write_word_corpus(path, self.records, self.seed)

    def verify(self) -> bool:
        got: Counter = Counter()
        for part in _part_files(self.out):
            with open(part, encoding="ascii") as f:
                for line in f:
                    word, count = line.rstrip("\n").split("|")
                    if word in got:
                        return False
                    got[word] = int(count)
        return got == self.truth


class MrSort(MrWorkload):
    """The OSDI'04 sort shape: identity map and reduce, no combiner."""

    name = "mr_sort"
    records = 100_000

    def job(self) -> Job:
        return Job(mapper=identity_map, reducer=identity_reduce,
                   num_reducers=self.cpus)

    def write_input(self, path):
        return inputs.write_sort_records(path, self.records, self.seed)

    def verify(self) -> bool:
        count, checksum = 0, 0
        for part in _part_files(self.out):
            index = int(os.path.basename(part).split("-")[1])
            with open(part, "rb") as f:
                lines = f.read().splitlines()
            keys = [line.split(b"|", 1)[0].decode("ascii") for line in lines]
            if keys != sorted(keys):
                return False
            if keys and np.any(np.abs(java_string_hashcode(keys)) % self.cpus != index):
                return False
            count += len(lines)
            checksum += sum(inputs.record_digest(line) for line in lines)
        return (count, checksum % 2**64) == self.truth


# ---------------------------------------------------------------------------
# Engine query mix
# ---------------------------------------------------------------------------

#: the engine tables are the same in every run; --seed orders the passes
TABLE_SEED = 42

#: query -> the layer whose code does its work
MIX = {
    "q1_pricing_summary": "relational",
    "q3_shipping_priority": "relational",
    "q6_forecast_revenue": "relational",
    "q18_large_volume_customers": "relational",
    "dedup_clusters": "docs",
    "tfidf_terms": "docs",
    "streaming_user_stats_stateful": "streaming",
    "lineitem_binned_stump": "stats",
}


class _Collected:
    """A collected result in the shape ``assert_matches_oracle`` reads."""

    def __init__(self, dtypes, pdf) -> None:
        self.dtypes = dtypes
        self._pdf = pdf

    def toPandas(self):
        return self._pdf


class EngineMix:
    """A fixed mix of registry queries over fixed generated tables, each
    run to the noop sink in a seed-shuffled order per pass."""

    name = "engine_mix"

    def __init__(self, run_dir: str, seed: int, cpus: int) -> None:
        self.tables = os.path.join(run_dir, "tables")
        self.seed = seed
        self.cpus = cpus
        self.builds: dict[str, float] = {}
        # the registry imports every layer; only this workload needs it
        from inf2106_map_reduce_spark.queries import REGISTRY

        self.registry = REGISTRY

    def generate(self) -> None:
        self.input_mb = inputs.write_tables(self.tables, TABLE_SEED) / MB

    #: untimed noop passes after the collecting one; query latency keeps
    #: falling for about three passes after the first
    WARMUP_PASSES = 3

    def warm_up(self, spark, spans: Spans) -> tuple[int, int]:
        from inf2106_map_reduce_spark.functions.dedup import build_registry_stage_cache
        from inf2106_map_reduce_spark.functions.text import registry_token_counts

        with spans.span("functions.build_registry_stage_cache", "setup") as s:
            build_registry_stage_cache(spark, self.tables)
        self.builds["dedup"] = s.wall
        with spans.span("functions.registry_token_counts", "setup") as s:
            registry_token_counts(spark, self.tables).count()
        self.builds["tf"] = s.wall
        failed = self._collect_pass(spark, spans)
        for _ in range(self.WARMUP_PASSES):
            failed += self._pass(spark, spans, list(MIX), "setup")[0]
        return (1 + self.WARMUP_PASSES) * len(MIX), failed

    def _collect_pass(self, spark, spans: Spans) -> int:
        """The first warm-up pass: collect each query's result, to be
        compared with its oracle after measuring; return the failures."""
        self.collected = {}
        failed = 0
        for name in MIX:
            query = self.registry[name]

            def collect():
                df = query.fn(spark, self.tables)
                self.collected[name] = _Collected(df.dtypes, df.toPandas())

            with spans.span(name, "setup", category=MIX[name]):
                failed += not _attempt(f"collecting {name}", collect)
        return failed

    def _pass(self, spark, spans: Spans, order: list[str], kind: str) -> tuple[int, list]:
        """Run each query of ``order`` to the noop sink; return the
        failure count and the spans of the queries that succeeded."""
        failed, succeeded = 0, []
        for name in order:
            query = self.registry[name]
            with spans.span(name, kind, category=MIX[name]) as span:
                ok = _attempt(name, lambda: query.fn(spark, self.tables).write.format(
                    "noop").mode("overwrite").save())
            if ok:
                succeeded.append(span)
            failed += not ok
        return failed, succeeded

    def check_outputs(self, spark) -> tuple[int, int]:
        """Compare each result collected in the warm-up with its DuckDB
        oracle, untimed."""
        from tests.oracle_utils import assert_matches_oracle, duckdb_connection

        con = duckdb_connection(self.tables)
        checked, failed = 0, 0
        try:
            for name, result in self.collected.items():
                checked += 1
                try:
                    assert_matches_oracle(result, con, self.registry[name].oracle)
                except Exception:
                    _report_failure(f"oracle check of {name}")
                    failed += 1
        finally:
            con.close()
        return checked, failed

    def operation(self, spark, spans: Spans, index: int) -> Outcome:
        order = list(MIX)
        random.Random(self.seed * 7919 + index).shuffle(order)
        with spans.span(f"pass{index}", "pass") as pass_span:
            failed, succeeded = self._pass(spark, spans, order, "op")
        return Outcome(pass_span, failed == 0, attempted=len(order),
                       failed=failed, queries=succeeded)

    def probes(self, spark, spans: Spans) -> dict:
        return {}

    def layer_metrics(self, att: Attribution, ops, passes: int, probes: dict,
                      listener=None) -> dict:
        def total(values) -> float:
            return sum(values) / passes

        def by(category):
            return [op for op in ops if op.attrs["category"] == category]

        streams = by("streaming")
        progress = [
            p for p in (listener.progress if listener else [])
            if any(op.start <= p["ts"] <= op.end for op in streams)
        ]
        last_state: dict[str, list] = {}
        for p in progress:
            last_state[p["run_id"]] = p["state"]
        drain_s = total(op.wall for op in streams)
        trigger_s = total(p["duration_ms"].get("triggerExecution", 0) / 1e3 for p in progress)

        def duration(*keys):
            return total(sum(p["duration_ms"].get(k, 0) for k in keys) / 1e3 for p in progress)

        operator_ops = by("relational") + by("stats")
        return {
            "tables.scan_mb": total(t.input_bytes for op in ops for t in att.tasks[op.id]) / MB,
            "operators.relational_s": total(op.wall for op in by("relational")),
            "operators.stats_s": total(op.wall for op in by("stats")),
            "operators.shuffle_mb": total(
                t.shuffle_write_bytes for op in operator_ops for t in att.tasks[op.id]
            ) / MB,
            "functions.dedup_stage_build_s": self.builds["dedup"],
            "functions.tf_stage_build_s": self.builds["tf"],
            "functions.docs_s": total(op.wall for op in by("docs")),
            "streaming.drain_s": drain_s,
            "streaming.batches": len(progress) / passes,
            "streaming.trigger_s": trigger_s,
            "streaming.add_batch_s": duration("addBatch"),
            "streaming.commit_s": duration("walCommit", "commitOffsets"),
            "streaming.planning_s": duration("queryPlanning"),
            "streaming.startup_s": drain_s - trigger_s,
            "streaming.state_rows": total(s["rows"] for st in last_state.values() for s in st),
            "streaming.state_mb": total(s["bytes"] for st in last_state.values() for s in st) / MB,
            "streaming.state_commit_s": total(
                s["commit_ms"] / 1e3 for p in progress for s in p["state"]
            ),
            "queries.driver_s": total(op.wall - att.sql_busy(op) for op in ops),
            "queries.spark_jobs": total(len(att.jobs[op.id]) for op in ops),
        }


WORKLOADS = {w.name: w for w in (MrWordCount, MrSort, EngineMix)}
