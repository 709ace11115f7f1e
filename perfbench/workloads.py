"""The benchmark's workloads.

Each workload drives ytspark only through its public functions and
yields, per pass, a list of ``Op``s. An op's ``run`` is the timed part;
its ``check`` runs after the clock stops and returns ``None`` when the
output is right, or a one-line reason when it is not.
"""

from __future__ import annotations

import os
import sys
from dataclasses import dataclass
from typing import Any, Callable

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))


@dataclass
class Op:
    name: str
    run: Callable[[], Any]
    check: Callable[[Any], str | None]
    family: str = ""


def dir_bytes(path: str) -> tuple[int, int]:
    """(data files, bytes of all files) under ``path``; names starting
    with ``.`` or ``_`` (checksums, ``_SUCCESS``) are not data files."""
    files = size = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            p = os.path.join(dirpath, n)
            if os.path.isfile(p) and not os.path.islink(p):
                files += not n.startswith((".", "_"))
                size += os.path.getsize(p)
    return files, size


class EltTicks:
    """The paper's pipeline as a long-lived service: every tick polls
    the seeded channels, then ingest -> append bronze -> staging views
    -> typed mart -> dashboard analytics -> data checks; every
    ``cycle``-th tick also compacts bronze."""

    name = "elt_ticks"
    VIEWS_PER_TICK = 9_871_000  # channel_payload: +9_871 * 1_000 views per tick
    CHECK_SPEC = {
        "not_null": ["title", "view_count", "timestamp"],
        "accepted_values": {"Country": ["US", "IN", "SE", "CA"]},
        "unique": [["title", "timestamp"]],
    }

    def __init__(self, h) -> None:
        self.h = h
        self.channels = h.args.channels
        self.cycle = h.args.cycle
        self.bronze = os.path.join(h.data_dir, "bronze")
        self.tick = 0
        self.probes = 0
        self.first_cycle: tuple[int, int] | None = None  # bronze (files, bytes)

    def prepare(self) -> None:
        rng = np.random.default_rng(self.h.args.seed)
        first = ("Jungle", "Tech", "Daily", "Kids", "Music", "Cooking", "Retro",
                 "Science", "Travel", "Gaming", "Comedy", "News", "Craft", "Auto")
        second = ("Toons", "Vlogs", "Lab", "Rhymes", "Studio", "Beats", "Kitchen",
                  "Talks", "Garage", "Arcade", "Nation", "Hub", "World", "Crew")
        self.sums: dict[str, int] = {}  # title -> code-point sum
        self.keys: list[str] = []  # the slugs ingest.channel_key derives
        # channel_payload derives the channel id from the title's code-point
        # sum, so the seeded titles must differ in that sum (and in slug)
        while len(self.sums) < self.channels:
            t = (f"{first[rng.integers(len(first))]} {second[rng.integers(len(second))]}"
                 f" - {int(rng.integers(1, 10_000))}")
            s, key = sum(map(ord, t)), t.replace("-", " ").replace(" ", "_")
            if s not in self.sums.values() and key not in self.keys:
                self.sums[t] = s
                self.keys.append(key)
        self.titles = list(self.sums)
        self.top10 = sorted(self.titles, key=lambda t: -self.sums[t])[:10]

    def expected_views(self, title: str, tick: int) -> int:
        return (self.sums[title] * 1_000_003 + tick * 9_871) * 1_000

    def _modules(self):
        from ytspark import analytics, checks, facts, ingest, staging, storage
        from ytspark.sources import youtube

        return analytics, checks, facts, ingest, staging, storage, youtube

    def _tick(self, path: str, tick: int, ts: str, compact: bool):
        from pyspark.sql import functions as F

        analytics, checks, facts, ingest, staging, storage, youtube = self._modules()
        spark, span = self.h.spark, self.h.tracer.span
        payloads = [youtube.channel_payload(t, tick=tick) for t in self.titles]

        def run():
            with span("ingest.ingest"):
                df = ingest.ingest(spark, payloads, ingest_ts=ts)
            with span("storage.append"):
                storage.append_bronze(df, path)
            with span("storage.read"):
                bronze = storage.read_bronze(spark, path)
            with span("staging.views"):
                staging.create_staging_views(bronze, self.keys)
            with span("facts.build_mart"):
                mart = facts.build_mart(bronze)
            with span("analytics.refresh"):
                latest_df = analytics.latest_snapshot(mart, "title")
                latest = latest_df.select("title", "view_count", "timestamp").collect()
                growth = (
                    analytics.growth(mart, "title", "view_count")
                    .where(F.col("timestamp") == F.lit(ts).cast("timestamp"))
                    .select("title", "view_count_delta")
                    .collect()
                )
                top = analytics.top_k(latest_df, "view_count", 10).select("title").collect()
            with span("checks.run"):
                results = checks.run_checks(mart, self.CHECK_SPEC)
            if compact:
                with span("storage.compact"):
                    storage.compact_bronze(spark, path)
            return mart, latest, growth, top, results

        return run

    def _ts(self, tick: int) -> str:
        minutes = 5 * tick
        return f"2026-01-{1 + minutes // 1440:02d} {minutes // 60 % 24:02d}:{minutes % 60:02d}:00"

    def _check(self, tick: int, ts: str, compact: bool):
        def check(out) -> str | None:
            _, latest, growth, top, results = out
            n = self.channels
            if len(latest) != n:
                return f"latest_snapshot rows {len(latest)} != {n}"
            for r in latest:
                if r["view_count"] != self.expected_views(r["title"], tick):
                    return f"latest view_count of {r['title']!r} is {r['view_count']}"
                if str(r["timestamp"]) != ts:
                    return f"latest timestamp of {r['title']!r} is {r['timestamp']}"
            want = None if tick == 0 else self.VIEWS_PER_TICK
            if len(growth) != n or any(r["view_count_delta"] != want for r in growth):
                return f"growth deltas wrong at tick {tick}"
            if [r["title"] for r in top] != self.top10:
                return "top_k titles differ from the generator's top 10"
            bad = [f"{c.check}:{c.column}" for c in results if not c.passed]
            if bad:
                return f"checks failed: {bad}"
            # recount through a fresh read: a compaction tick has just
            # replaced the files the op's own mart was planned over
            from ytspark import facts, storage

            rows = facts.build_mart(storage.read_bronze(self.h.spark, self.bronze)).count()
            if rows != n * (tick + 1):
                return f"mart rows {rows} != {n * (tick + 1)}" + (" after compaction" if compact else "")
            return None

        return check

    def warm_up(self) -> None:
        """One tick with compaction on a scratch bronze table."""
        self._tick(os.path.join(self.h.data_dir, "warm_bronze"), 0, self._ts(0), compact=True)()

    def probe(self) -> None:
        """A first tick, through every span, on a bronze table of its own."""
        self.probes += 1
        path = os.path.join(self.h.data_dir, f"probe_bronze{self.probes}")
        self._tick(path, 0, self._ts(0), compact=False)()

    def pass_ops(self, p: int) -> list[Op]:
        ops = []
        for i in range(self.cycle):
            tick, compact = self.tick, i == self.cycle - 1
            ts = self._ts(tick)
            ops.append(Op(f"tick{'+compact' if compact else ''}",
                          self._tick(self.bronze, tick, ts, compact),
                          self._check(tick, ts, compact)))
            self.tick += 1
        return ops

    def after_pass(self, p: int) -> None:
        if p == 0:
            self.first_cycle = dir_bytes(self.bronze)

    def injected_ops(self) -> list[Op]:
        def boom():
            raise RuntimeError("injected failure")

        # a tick stamped with the previous tick's ingest time: duplicate
        # (title, timestamp) keys that the checks and growth must reject
        tick, ts = self.tick, self._ts(self.tick - 1)
        self.tick += 1
        return [
            Op("inject.raise", boom, lambda out: None),
            Op("inject.wrong", self._tick(self.bronze, tick, ts, False), self._check(tick, ts, False)),
        ]

    def stored_bytes(self, passes: int) -> float:
        """Bronze on disk after the first compaction cycle."""
        return self.first_cycle[1]

    def layer_extras(self) -> dict[str, float]:
        files, size = self.first_cycle
        return {"storage.files": files, "storage.bytes": size}

    def describe(self) -> dict:
        return {"channels": self.titles, "cycle": self.cycle, "ticks": self.tick}


class CurationBatch:
    """An LLM-data-curation batch over one seeded data set: dedup,
    similarity, graph and search queries plus the three store-writing
    streaming queries, each built and collected once per pass."""

    name = "curation_batch"
    # a fixed curation order: the batch runs cold, so a seed-shuffled
    # order would move JIT warm-up cost between ops from run to run
    BATCH = (
        "dedup_exact_stats",
        "streaming_incremental_dedup",
        "streaming_exact_substring_screen",
        "knn_cosine_bruteforce",
        "phrase_search_positional",
        "events_pagerank",
        "streaming_watermark_monitor",
    )
    PROBE = "mart_union_cast"

    def __init__(self, h) -> None:
        self.h = h
        self.sf_dir = os.path.join(h.data_dir, "tables")
        self._oracle: dict[str, Any] = {}
        self.ran: list[str] = []
        self.kept_bytes = 0

    def prepare(self) -> None:
        """Tables and oracle results, built in a child process."""
        import subprocess

        subprocess.run(
            [sys.executable, os.path.join(HERE, "inputs.py"), self.h.data_dir,
             str(self.h.args.sf), str(self.h.args.seed), *self.BATCH, self.PROBE],
            check=True,
        )

    def _query(self, name: str):
        q = self.h.registry[name]
        spark, span = self.h.spark, self.h.tracer.span

        def run():
            with span("queries.build"):
                df = q.fn(spark, self.sf_dir)
            with span("queries.force"):
                pdf = df.toPandas()
            self.h.note_catalyst(df)
            return pdf

        return run

    def _check(self, name: str):
        def check(pdf) -> str | None:
            from tools.oracle_check import dtype_mismatches, normalize

            import pandas as pd

            if name not in self._oracle:
                self._oracle[name] = pd.read_pickle(
                    os.path.join(self.h.data_dir, "oracle", f"{name}.pkl"))
            odf = self._oracle[name]
            if len(pdf) != len(odf):
                return f"rows {len(pdf)} vs oracle {len(odf)}"
            if sorted(pdf.columns) != sorted(odf.columns):
                return f"columns {sorted(pdf.columns)} vs oracle {sorted(odf.columns)}"
            fails, _ = dtype_mismatches(pdf, odf)
            if fails:
                return f"type family mismatch {fails}"
            if normalize(pdf) != normalize(odf):
                return "values differ from the oracle"
            return None

        return check

    def warm_up(self) -> None:
        """None: a curation batch is a job that starts cold every time."""

    def probe(self) -> None:
        self._query(self.PROBE)()
        self.h.release()

    def pass_ops(self, p: int) -> list[Op]:
        self.ran.extend(self.BATCH)
        return [
            Op(n, self._query(n), self._check(n), family=self.h.registry[n].tags[0])
            for n in self.BATCH
        ]

    def after_pass(self, p: int) -> None:
        if p == 0:
            self.kept_bytes = dir_bytes(self.h.tmp_dir)[1]

    def injected_ops(self) -> list[Op]:
        def boom():
            raise RuntimeError("injected failure")

        run = self._query(self.PROBE)
        return [
            Op("inject.raise", boom, lambda out: None),
            # the right query with its last row dropped: the oracle must see it
            Op("inject.wrong", lambda: run().iloc[:-1], self._check(self.PROBE)),
        ]

    def stored_bytes(self, passes: int) -> float:
        """What the program wrote under ``TMPDIR`` in one pass: its stores
        and stream stages as each was removed, plus what it kept at the
        end of the first pass. The generated inputs are not counted."""
        return self.h.removed_bytes / passes + self.kept_bytes

    def layer_extras(self) -> dict[str, float]:
        return {}

    def describe(self) -> dict:
        return {"sf": self.h.args.sf, "ops": list(self.ran)}


WORKLOADS = {w.name: w for w in (EltTicks, CurationBatch)}
