"""crawl_iterative workload: a politeness-limited, self-growing crawl that is
stopped after its first wave and resumed.

Inputs are fixture seed rows for one block of ids (the block is chosen by the
seed), the fixture's real ``host_policy`` (token buckets and crawl-delays), a
short ``wave_seconds`` and ``fixture_link_expander``, so every wave admits a
politeness-limited slice and the outlinks of archived pages collide with
``url_seen`` from the second wave on.

Per run: the uninterrupted crawl of the seed is the warm-up and the reference
for the resume check; each timed operation is the stopped-and-resumed crawl.
"""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import time
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import functions as F

from auto_archiver_spark.plans.tableio import TableIO, WaveCheckpoint
from auto_archiver_spark.plans.wave import CrawlConfig, run_crawl
from auto_archiver_spark.sources.fixture import (
    FRONTIER_SEED_SCHEMA,
    fixture_link_expander,
    frontier_seed_rows,
    host_policy_df,
    host_policy_rows,
)
from spans import (
    TracedCheckpoint,
    TracedTableIO,
    fold_event_log,
    maybe_span,
    union_seconds,
)

# the resume check uses the multi-wave bench's order-insensitive fingerprint
sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                                "tools"))
from multiwave_bench import fingerprint  # noqa: E402

SEEDS = 500  # seed rows per run at scale 1.0
# seed s crawls fixture ids [(s % ID_BLOCKS) * SEEDS, ... + SEEDS): every block
# lies inside the link expander's id space, so outlinks can hit seen URLs
ID_BLOCKS = 8
LINK_SPAN = ID_BLOCKS * SEEDS
WAVE_SECONDS = 3.0
MAX_WAVES = 2
STOP_AFTER_WAVE = 0
SEGMENTS = [
    "dedup", "bloom_build", "admission", "fetch_udf", "images_commit",
    "results_commit", "wave_stats", "writeback_commit", "state_commits",
]
# tables whose commit/read spans are reported one by one
TABLES = [
    "frontier", "fetch_out", "images", "sha_seen", "archive_results", "url_seen",
    "lineage", "metrics",
]
# the same spans, under the name of the layer that owns the table
LAYER_TABLES = {"url_seen_bloom": "seen_filter", "seed_state": "writeback"}
RESUME_TABLES = [
    ("url_seen", ()),
    ("images", ()),
    ("archive_results", ("processed_at", "ts", "lineage_partition")),
    ("sha_seen", ()),
]


def layer_metric_names() -> list[str]:
    """Every per-layer metric this workload reports."""
    names = []
    for seg in SEGMENTS:
        names += [f"wave.{seg}_s", f"wave.{seg}_cpu_s"]
    names += [
        "wave.unmarked_s", "wave.host_busy_frac", "wave.growth", "wave.count",
        "wave.reconcile",
    ]
    names += [
        "frontier.candidates", "frontier.new_urls", "frontier.admitted",
        "frontier.deferred", "frontier.robots_blocked", "frontier.new_ratio",
        "frontier.rows_per_s",
    ]
    names += [
        "fetch.archived_ok", "fetch.ok_ratio", "fetch.bytes_written",
        "fetch.urls_per_s", "fetch.task_skew",
    ]
    for t in TABLES:
        names += [f"tableio.commit_s.{t}", f"tableio.read_s.{t}"]
    for prefix in LAYER_TABLES.values():
        names += [f"{prefix}.commit_s", f"{prefix}.read_s"]
    names += [
        "tableio.commits_per_wave", "tableio.reads_per_wave", "tableio.bytes_per_wave",
        "tableio.commit_sum_s", "tableio.commit_union_s", "tableio.commit_threads",
        "checkpoint.commit_wave_s", "checkpoint.recover_s", "resume.first_wave_s",
        "spark.jobs_per_wave", "spark.stages_per_wave", "spark.tasks_per_wave",
        "spark.shuffle_bytes_per_wave", "spark.gc_s",
    ]
    return names


def seed_block(seed: int, n: int) -> list[tuple]:
    """Fixture seed rows for ids [lo, lo + n); a pure function of the seed."""
    lo = (seed % ID_BLOCKS) * n
    return [tuple(r.values()) for r in frontier_seed_rows(lo + n)[lo:]]


def table_bytes(root: str) -> int:
    """Bytes of table files under a crawl root, payload blobs excluded."""
    total = 0
    for dirpath, dirnames, filenames in os.walk(root):
        if "blobs" in dirnames:
            dirnames.remove("blobs")
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in filenames)
    return total


def assign_waves(runs: list[dict], spans: list[dict]):
    """Give every span inside a ``run_crawl`` call the wave it belongs to: the
    first wave whose checkpoint commit ends at or after the span ends."""
    for r in runs:
        mine = [s for s in spans if r["start"] <= s["start"] <= r["end"]]
        ends = sorted(
            (s["end"], s["wave"]) for s in mine if s["name"] == "checkpoint.commit_wave"
        )
        for s in mine:
            s.setdefault("wave", next((w for end, w in ends if end >= s["end"]), None))


def explained_share(runs: list[dict], stats, spans: list[dict]) -> float:
    """Share of the outside-measured ``run_crawl`` wall that the waves'
    ``WaveStats.seconds`` plus the traced work around them account for: the
    work before the first wave (recovery, bootstrap commits, the frontier
    read) and after each wave's clock stops (the metrics commit and the
    checkpoint)."""
    around = []
    for r in runs:
        mine = [s for s in spans if r["start"] <= s["start"] <= r["end"]]
        first_fetch = min(
            (s["start"] for s in mine if s.get("table") == "fetch_out"), default=r["end"]
        )
        for s in mine:
            before_loop = s["end"] <= first_fetch and (
                s["name"] == "checkpoint.recover"
                or s.get("table") in ("frontier", "seed_state")
            )
            after_clock = s["name"] == "checkpoint.commit_wave" or s.get("table") == "metrics"
            if before_loop or after_clock:
                around.append((s["start"], s["end"]))
    outside = sum(r["end"] - r["start"] for r in runs)
    return (sum(s.seconds for s in stats) + union_seconds(around)) / outside


class CrawlWorkload:
    def __init__(self, ctx):
        self.ctx = ctx
        self.n = max(20, int(SEEDS * ctx.scale))
        self.config = CrawlConfig(
            wave_seconds=WAVE_SECONDS,
            max_waves=MAX_WAVES,
            fetch_partitions=2 * ctx.cores,
            link_expander=fixture_link_expander(LINK_SPAN),
        )
        self.seed_df = None
        self.policy = None

    # ---- set-up -------------------------------------------------------------

    def build_inputs(self) -> dict:
        spark = self.ctx.spark
        self.seed_df = spark.createDataFrame(
            seed_block(self.ctx.seed, self.n), FRONTIER_SEED_SCHEMA
        ).localCheckpoint()
        self.policy = host_policy_df(spark)
        return {"seed_rows": self.n, "hosts": len(host_policy_rows())}

    def _crawl(self, root: str, stop_after=None, tracer=None):
        io = TracedTableIO(root, tracer) if tracer else TableIO(root)
        cp = TracedCheckpoint(root, tracer) if tracer else WaveCheckpoint(root)
        return run_crawl(
            self.ctx.spark, io, cp, self.seed_df, self.policy, self.config,
            stop_after_wave=stop_after,
        )

    def warm_up(self):
        """The uninterrupted crawl: warms the JVM and Python workers, and is
        the reference the resumed crawl must match."""
        self.ref_root = self.ctx.workdir("ref")
        self.ref_stats = self._crawl(self.ref_root)

    # ---- timed operation ----------------------------------------------------

    def operation(self, i: int) -> dict:
        root = self.ctx.workdir(f"op{i}")
        tracer = self.ctx.tracer
        t0 = time.monotonic()
        with maybe_span(tracer, "crawl.run", "plans.wave", op=i, call="stop"):
            first = self._crawl(root, STOP_AFTER_WAVE, tracer)
        with maybe_span(tracer, "crawl.run", "plans.wave", op=i, call="resume"):
            rest = self._crawl(root, None, tracer)
        wall = time.monotonic() - t0
        return {"wall": wall, "root": root, "stats": first + rest,
                "resume_first": rest[0].seconds if rest else 0.0,
                "table_bytes": table_bytes(root)}

    # ---- output checks ------------------------------------------------------

    def checks(self, op: dict) -> list[tuple[str, bool, str]]:
        spark = self.ctx.spark
        out = []
        for label, stats in (("timed", op["stats"]), ("reference", self.ref_stats)):
            bad = [
                s.wave for s in stats
                if s.admitted + s.robots_blocked + s.deferred != s.new_urls
                or s.new_urls > s.candidates
                or s.archived_ok > s.admitted
            ]
            out.append((f"wave count identities ({label})", not bad, f"bad waves {bad}"))
        same = [(s.wave, s.candidates, s.new_urls, s.admitted, s.archived_ok)
                for s in op["stats"]]
        ref = [(s.wave, s.candidates, s.new_urls, s.admitted, s.archived_ok)
               for s in self.ref_stats]
        out.append(("per-wave counts equal the reference", same == ref, f"{same} vs {ref}"))

        io = TableIO(op["root"])
        seen = io.read(spark, "url_seen")
        n_rows, n_keys = seen.agg(
            F.count(F.lit(1)), F.countDistinct("url_hash")
        ).collect()[0]
        out.append(("url_seen has no duplicate url_hash", n_rows == n_keys,
                    f"{n_rows} rows, {n_keys} keys"))

        budget = {}
        for r in host_policy_rows():
            by_delay = (
                int(self.config.wave_seconds * 1000.0 // r["crawl_delay_ms"])
                if r["crawl_delay_ms"] > 0 else 1_000_000
            )
            budget[r["host"]] = min(r["max_tokens"], by_delay)
        per_host = (
            seen.groupBy(
                "first_seen_wave",
                F.regexp_extract("url_norm", r"^[a-z]+://([^/?#:]*)", 1).alias("host"),
            ).count().collect()
        )
        over = [(r["first_seen_wave"], r["host"], r["count"]) for r in per_host
                if r["count"] > budget.get(r["host"], 1_000_000)]
        out.append(("no host admitted past its politeness budget", not over, f"{over}"))
        admitted_by_wave = {}
        for r in per_host:
            admitted_by_wave[r["first_seen_wave"]] = (
                admitted_by_wave.get(r["first_seen_wave"], 0) + r["count"]
            )
        stats_admitted = {s.wave: s.admitted for s in op["stats"] if s.admitted}
        out.append(("url_seen rows per wave equal WaveStats.admitted",
                    admitted_by_wave == stats_admitted,
                    f"{admitted_by_wave} vs {stats_admitted}"))

        ref_io = TableIO(self.ref_root)
        jobs = [(io_, table, drop) for table, drop in RESUME_TABLES for io_ in (io, ref_io)]
        with ThreadPoolExecutor(max_workers=len(jobs)) as pool:
            prints = list(pool.map(lambda j: fingerprint(j[0].read(spark, j[1]), j[2]), jobs))
        for k, (table, _) in enumerate(RESUME_TABLES):
            a, b = prints[2 * k], prints[2 * k + 1]
            out.append((f"resume fingerprint {table}", a == b, f"{a} vs {b}"))
        return out

    def discard(self, op: dict):
        shutil.rmtree(op["root"], ignore_errors=True)

    def finish(self):
        shutil.rmtree(self.ref_root, ignore_errors=True)

    # ---- metrics -------------------------------------------------------------

    def end_to_end(self, ops: list[dict]) -> dict:
        waves = [s.seconds for op in ops for s in op["stats"]]
        return {
            "wall_s": statistics.median(op["wall"] for op in ops),
            "items_per_s": statistics.median(
                sum(s.archived_ok for s in op["stats"]) / op["wall"] for op in ops
            ),
            "step_p50_s": statistics.median(waves),
        }

    def layers(self, ops: list[dict], event_log: dict | None) -> dict:
        tracer = self.ctx.tracer
        stats = [s for op in ops for s in op["stats"]]
        n = len(stats)
        m: dict[str, float] = {"wave.count": n / len(ops)}
        marked, cpu = 0.0, 0.0
        for seg in SEGMENTS:
            wall = sum(s.extra.get(seg, 0.0) for s in stats)
            busy = sum(s.extra.get(seg + "_cpu", 0.0) for s in stats)
            m[f"wave.{seg}_s"] = wall / n
            m[f"wave.{seg}_cpu_s"] = busy / n
            marked += wall
            cpu += busy
        total = sum(s.seconds for s in stats)
        m["wave.unmarked_s"] = (total - marked) / n
        m["wave.host_busy_frac"] = cpu / (total * self.ctx.cores)
        secs = [s.seconds for s in stats]
        half = len(secs) // 2
        m["wave.growth"] = statistics.median(secs[half:]) / statistics.median(secs[:half])

        for k in ("candidates", "new_urls", "admitted", "deferred", "robots_blocked"):
            m[f"frontier.{k}"] = sum(getattr(s, k) for s in stats) / len(ops)
        cands = sum(s.candidates for s in stats)
        m["frontier.new_ratio"] = sum(s.new_urls for s in stats) / cands
        frontier_s = sum(
            s.extra.get("dedup", 0) + s.extra.get("bloom_build", 0) + s.extra.get("admission", 0)
            for s in stats
        )
        m["frontier.rows_per_s"] = cands / frontier_s
        ok = sum(s.archived_ok for s in stats)
        m["fetch.archived_ok"] = ok / len(ops)
        m["fetch.ok_ratio"] = ok / max(1, sum(s.admitted for s in stats))
        m["fetch.bytes_written"] = sum(s.bytes_written for s in stats) / len(ops)
        m["fetch.urls_per_s"] = ok / sum(s.extra.get("fetch_udf", 0) for s in stats)

        runs = tracer.find("crawl.run")
        in_runs = [s for s in tracer.spans if s["end"] is not None
                   and any(r["start"] <= s["start"] <= r["end"] for r in runs)]
        assign_waves(runs, in_runs)
        commits = [s for s in in_runs if s["name"] == "tableio.commit"]
        reads = [s for s in in_runs if s["name"] == "tableio.read"]

        def per_wave(spans):
            return sum(s["end"] - s["start"] for s in spans) / n

        for t in TABLES:
            m[f"tableio.commit_s.{t}"] = per_wave([s for s in commits if s["table"] == t])
            m[f"tableio.read_s.{t}"] = per_wave([s for s in reads if s["table"] == t])
        for t, prefix in LAYER_TABLES.items():
            m[f"{prefix}.commit_s"] = per_wave([s for s in commits if s["table"] == t])
            m[f"{prefix}.read_s"] = per_wave([s for s in reads if s["table"] == t])
        m["tableio.commits_per_wave"] = len(commits) / n
        m["tableio.reads_per_wave"] = len(reads) / n
        m["tableio.bytes_per_wave"] = (
            statistics.median(op["table_bytes"] for op in ops) * len(ops) / n
        )
        m["tableio.commit_sum_s"] = per_wave(commits)
        m["tableio.commit_union_s"] = union_seconds(
            [(s["start"], s["end"]) for s in commits]
        ) / n
        threads: dict = {}
        for s in commits:
            threads.setdefault(s["wave"], set()).add(s["thread"])
        m["tableio.commit_threads"] = statistics.mean(len(t) for t in threads.values())
        m["wave.reconcile"] = explained_share(runs, stats, in_runs)
        m["checkpoint.commit_wave_s"] = per_wave(tracer.find("checkpoint.commit_wave"))
        m["checkpoint.recover_s"] = statistics.median(
            s["end"] - s["start"] for s in tracer.find("checkpoint.recover")
            if any(r["start"] <= s["start"] <= r["end"] and r["call"] == "resume" for r in runs)
        )
        m["resume.first_wave_s"] = statistics.median(op["resume_first"] for op in ops)

        if event_log is not None:
            fetch_windows = [(s["start"], s["end"]) for s in commits if s["table"] == "fetch_out"]
            f = fold_event_log(event_log, [(r["start"], r["end"]) for r in runs], fetch_windows)
            m["spark.jobs_per_wave"] = f["jobs"] / n
            m["spark.stages_per_wave"] = f["stages"] / n
            m["spark.tasks_per_wave"] = f["tasks"] / n
            m["spark.shuffle_bytes_per_wave"] = f["shuffle_bytes"] / n
            m["spark.gc_s"] = f["gc_s"] / n
            m["fetch.task_skew"] = f["fetch_task_skew"]
        return m
