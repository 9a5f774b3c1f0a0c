"""The benchmark's workloads. Each runs closed-loop from one driver
thread and calls only the package's public functions.

A pass is one unit of user-visible work: one daily Spotify run, or one
sweep over a workload's queries. ``run_pass`` times each job, then checks
its output outside the timed region and reports an ``Outcome`` per job.
"""

from __future__ import annotations

import hashlib
import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass

import inputs
from spans import Tracer

# Called through the module so the tracer's wrapper on it takes effect.
import etl_airflow_spotify_spark.caching as caching
from etl_airflow_spotify_spark.catalog import load_table
from etl_airflow_spotify_spark.oracle import multiset
from etl_airflow_spotify_spark.registry import all_queries
from etl_airflow_spotify_spark.sources.snapshot import snapshot_from_dict
from etl_airflow_spotify_spark.sources.spotify_rest import (
    FakeSpotifyClient, extract_full_dataset)
from etl_airflow_spotify_spark.spotify import pipeline
from etl_airflow_spotify_spark.spotify.normalize import snapshot_tables

HERE = os.path.dirname(os.path.abspath(__file__))


@dataclass
class Outcome:
    name: str
    seconds: float
    ok: bool
    detail: str = ""


@dataclass
class Context:
    spark: object
    data_dir: str
    out_dir: str
    seed: int
    tracer: Tracer | None = None  # set only on traced passes
    group: str | None = None  # the traced pass's Spark job group

    @contextmanager
    def timed(self, name: str):
        """Time one job. On a traced pass, also record span ``name`` and
        run the job's Spark work under the pass's job group, so the
        output checks that follow stay out of both."""
        clock = {"s": 0.0}
        sc = self.spark.sparkContext
        t0 = time.perf_counter()
        try:
            if self.tracer is None:
                yield clock
            else:
                sc.setJobGroup(self.group, self.group)
                with self.tracer.span(name):
                    yield clock
        finally:
            clock["s"] = time.perf_counter() - t0
            if self.tracer is not None:
                sc.setLocalProperty("spark.jobGroup.id", None)


def digest(rows: list, columns: list[str]) -> str:
    """Order-insensitive digest: ``oracle.multiset`` (the comparison the
    correctness suite uses) hashed in a canonical order."""
    items = sorted(multiset(rows, columns).items(), key=repr)
    return hashlib.sha256(repr(items).encode()).hexdigest()


def load_digests() -> dict[str, dict]:
    with open(os.path.join(HERE, "digests.json")) as f:
        return json.load(f)["queries"]


class QueryWorkload:
    """Registered queries over a seeded ``documents`` table, results
    collected to the driver (every result is at most a few hundred rows)
    so each pass can be checked against the stored digest."""

    def __init__(self, name: str, queries: tuple[str, ...],
                 documents_n: int):
        self.name = name
        self.queries = queries
        self.documents_n = documents_n
        self.specs = all_queries()
        self.expected: dict[str, dict] | None = None  # read on first pass

    def setup(self, ctx: Context):
        tables = inputs.base_tables(self.documents_n)
        inputs.write_permuted(tables, ctx.seed, ctx.data_dir)
        load_table(ctx.spark, ctx.data_dir, "documents").count()

    @property
    def input_rows(self) -> int:
        return len(self.queries) * self.documents_n

    def run_pass(self, ctx: Context, i: int) -> list[Outcome]:
        if self.expected is None:
            self.expected = load_digests()
        out = []
        for q in self.queries:
            fn = self.specs[q].spark_fn
            try:
                with ctx.timed(f"query.{q}") as t:
                    df = fn(ctx.spark, ctx.data_dir)
                    rows = df.collect()
                    caching.release_all()
            except Exception as e:  # noqa: BLE001 - counted as a failure
                caching.release_all()
                out.append(Outcome(q, t["s"], False,
                                   f"{type(e).__name__}: {e}"[:300]))
                continue
            want = self.expected[q]
            got = {"rows": len(rows), "digest": digest(rows, df.columns)}
            ok = got == {"rows": want["rows"], "digest": want["digest"]}
            out.append(Outcome(q, t["s"], ok, "" if ok else
                               f"rows {got['rows']} want {want['rows']}, "
                               f"digest {got['digest'][:12]} "
                               f"want {want['digest'][:12]}"))
        return out


class SpotifyWorkload:
    """The reference daily dataflow: ``pipeline.run`` on a fresh
    ``FakeSpotifyClient`` per pass, alternating the reference's default
    CSV output with parquet."""

    name = "spotify_etl"
    N_ALBUMS = 50
    TRACKS_PER_ALBUM = 200
    FORMATS = ("csv", "parquet")
    RUN_DATE = "2024-06-01"

    def setup(self, ctx: Context):
        os.makedirs(ctx.out_dir, exist_ok=True)

    @property
    def input_rows(self) -> int:
        # tracks + audio-feature rows + albums + the six categories
        n = self.N_ALBUMS * self.TRACKS_PER_ALBUM
        return 2 * n + self.N_ALBUMS + 6

    def client(self, ctx: Context, i: int) -> FakeSpotifyClient:
        return FakeSpotifyClient(seed=ctx.seed * 1000 + i,
                                 n_albums=self.N_ALBUMS,
                                 tracks_per_album=self.TRACKS_PER_ALBUM)

    def run_pass(self, ctx: Context, i: int) -> list[Outcome]:
        fmt = self.FORMATS[i % 2]
        run_ts = f"pass{i:03d}"
        cfg = pipeline.PipelineConfig(output_dir=ctx.out_dir, fmt=fmt)
        with ctx.timed("spotify.run") as t:
            result = pipeline.run(ctx.spark, self.client(ctx, i), cfg,
                                  run_ts=run_ts, run_date=self.RUN_DATE)
        problems = self.check(ctx, i, run_ts, result)
        return [Outcome(f"spotify_etl.{fmt}", t["s"], not problems,
                        "; ".join(problems))]

    def check(self, ctx: Context, i: int, run_ts: str, result) -> list[str]:
        if result.status != "success":
            return [f"run failed: {result.error}"]
        raw = extract_full_dataset(self.client(ctx, i), run_ts=run_ts)
        tracks = [t for r in raw["releases"] for t in r["tracks"]]
        want = {
            "albums": len(raw["releases"]),
            "tracks": len(tracks),
            "audio_features": sum(f is not None
                                  for f in raw["audio_features"]),
            "categories": len(raw["categories"]),
            "tracks_with_features": len(tracks),
        }
        problems = []
        if result.stats != want:
            problems.append(f"stats {result.stats} want {want}")
        # One read-back query for every view: count, plus the
        # duration_ms sum for tracks.
        back = " UNION ALL ".join(
            f"SELECT '{name}', count(*), "
            f"{'sum(duration_ms)' if name == 'tracks' else 'NULL'} "
            f"FROM {name}_latest" for name in want)
        got = {t: (n, d) for t, n, d in ctx.spark.sql(back).collect()}
        for name, n in want.items():
            if got[name][0] != n:
                problems.append(
                    f"{name}_latest has {got[name][0]} rows, want {n}")
        want_dur = sum(t["duration_ms"] for t in tracks)
        if got["tracks"][1] != want_dur:
            problems.append(
                f"duration_ms sum {got['tracks'][1]} want {want_dur}")
        return problems

    def normalize_exec_s(self, ctx: Context, i: int) -> float:
        """The five normalized tables executed to the ``noop`` sink, with
        no file I/O: the transform's own cost."""
        raw = extract_full_dataset(self.client(ctx, i), run_ts="noop")
        tables = snapshot_tables(snapshot_from_dict(ctx.spark, raw),
                                 run_date=self.RUN_DATE)
        t0 = time.perf_counter()
        for df in tables.values():
            df.write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0


LLM_QUERIES = ("near_dup_minhash", "decontaminate_ngram", "pii_redaction",
               "stream_decontaminate")


def make(name: str):
    if name == "spotify_etl":
        return SpotifyWorkload()
    if name == "llm_curation":
        return QueryWorkload(name, LLM_QUERIES, documents_n=5000)
    raise ValueError(f"unknown workload {name!r}")
