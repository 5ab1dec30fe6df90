"""Closed-loop workloads: one client re-running a job back to back.

- replay_backfill: the Replay job alone.
- curation_dedup: the Curation job alone.
- batch_backfill: Replay then Curation as one job, in one session — the
  nightly batch a unique-users deployment runs (recount the minute windows
  of the day's events, then curate the day's documents).

A job generates its inputs and reference answer in ``prepare`` (not
timed), loads its tables once in ``load`` (part of set-up), checks its
output on every ``once`` and reports its own per-layer metrics.  After
the cold first job the client runs WARM_JOBS jobs unsampled, then for the
measured seconds."""

from __future__ import annotations

import os

import gen
import oracle
import stats
from common import Ctx, Result, closed_loop, cores, now, start_session, stop_session
from procstat import MemorySampler, cpu_by_class, engine_processes

# Below this share of planted near-duplicates removed, a curation run
# counts as failed.  MinHash with 8 permutations in 4 bands of 2 finds a
# pair of Jaccard 0.8 with probability 0.98; the planted twins sit near
# there.
MIN_NEARDUP_RECALL = 0.9
# Unsampled jobs after the cold one: job times still fall by a fifth over
# the first few warm jobs as the JIT compiles the generated code.  A count,
# not a time, so every run samples from the same point of that curve
# however fast the host runs.
WARM_JOBS = 2


class Replay:
    """``queries()["q_unique_users"]`` (groupBy minute → countDistinct, the
    reference's own batch oracle) over a generated events.parquet; JVM-only
    columnar path with no Python worker and no state store."""

    def prepare(self, ctx: Ctx, res: Result) -> None:
        self.rec, self.res = ctx.rec, res
        self.sf = ctx.path("sf")
        os.makedirs(self.sf, exist_ok=True)
        parquet = os.path.join(self.sf, "events.parquet")
        self.items = gen.write_events(parquet, ctx.seed)
        self.want = oracle.replay_window_counts(parquet)
        self.times: list[float] = []
        self.windows_out = 0

    def load(self, spark) -> None:
        from kafkastreamsjavachallenge_spark.catalog import load_table

        load_table(spark, self.sf, "events")  # relayout happens here when the program chooses to

    def once(self, spark) -> None:
        from kafkastreamsjavachallenge_spark import queries as Q

        t = now()
        with self.rec.span("windows.q_unique_users"):
            rows = Q.queries()["q_unique_users"](spark, self.sf).collect()
        self.times.append(now() - t)
        got = {int(r["window_start"].timestamp()): int(r["unique_users"]) for r in rows}
        self.res.check("q_unique_users result", got == self.want,
                       f"{stats.windows_mismatch(got, self.want)} windows differ")
        self.windows_out = len(rows)

    def breakdown(self, spark) -> dict[str, float]:
        """catalog.scan_s: a scan of the columns the query reads, with no
        aggregation, median of three."""
        from kafkastreamsjavachallenge_spark.catalog import load_table

        scans = []
        for _ in range(3):
            t = now()
            with self.rec.span("catalog.scan"):
                load_table(spark, self.sf, "events").select("ts", "user_id").write.format(
                    "noop").mode("overwrite").save()
            scans.append(now() - t)
        return {"catalog.scan_s": stats.percentile(scans, 50)}

    def layers(self) -> dict[str, float]:
        return {
            "windows.unique_users_s": stats.percentile(self.times, 50),
            "windows.windows_out": float(self.windows_out),
        }

    def note(self) -> str:
        return f"replay: {self.items} events, {len(self.want)} windows"


class Curation:
    """``CorpusPipeline(docs).quality_filter().exact_dedup().neardup_dedup()``
    over generated documents with planted exact and near duplicates."""

    def prepare(self, ctx: Ctx, res: Result) -> None:
        self.rec, self.res = ctx.rec, res
        self.sf = ctx.path("sf")
        os.makedirs(self.sf, exist_ok=True)
        truth = gen.write_documents(os.path.join(self.sf, "documents.parquet"), ctx.seed)
        self.items = truth["n_docs"]
        self.exact, self.near = set(truth["exact"]), set(truth["near"])
        self.low, self.uniques = set(truth["low_quality"]), set(truth["uniques"])
        self.times: list[float] = []
        self.recall = 0.0

    def load(self, spark) -> None:
        from kafkastreamsjavachallenge_spark.catalog import load_table

        load_table(spark, self.sf, "documents")

    def once(self, spark) -> None:
        from kafkastreamsjavachallenge_spark.catalog import load_table
        from kafkastreamsjavachallenge_spark.pipeline import CorpusPipeline

        t = now()
        with self.rec.span("pipeline.CorpusPipeline"):
            docs = load_table(spark, self.sf, "documents")
            pipe = CorpusPipeline(docs).quality_filter().exact_dedup().neardup_dedup()
            kept = {r[0] for r in pipe.df().select("doc_id").collect()}
        self.times.append(now() - t)
        score = stats.score_curation(kept, self.exact, self.near, self.uniques)
        self.recall = score["neardup_recall"]
        self.res.check(
            "curation output",
            score["exact_kept"] == 0 and score["uniques_removed"] == 0
            and not (kept & self.low) and self.recall >= MIN_NEARDUP_RECALL,
            f"{score} low-quality kept {len(kept & self.low)}",
        )

    def breakdown(self, spark) -> dict[str, float]:
        """Each stage of the same pipeline timed on its own, the previous
        stage materialized first, with the parameters neardup_dedup
        defaults to; plus the funnel_report() stage counts."""
        from pyspark.sql import functions as F

        from kafkastreamsjavachallenge_spark.catalog import load_table
        from kafkastreamsjavachallenge_spark.operators import dedup as D
        from kafkastreamsjavachallenge_spark.pipeline import CorpusPipeline

        out: dict[str, float] = {}

        def timed(name: str, build):
            t = now()
            with self.rec.span(name):
                df = build().localCheckpoint(eager=True)
            out[name + "_s"] = now() - t
            return df

        docs = load_table(spark, self.sf, "documents")
        passed = timed("text.quality_filter", lambda: CorpusPipeline(docs).quality_filter().df())
        exact = timed("dedup.exact", lambda: D.exact_dedup(passed))
        sigs = timed("dedup.minhash", lambda: D.minhash_signatures(exact))
        pairs = timed("dedup.lsh", lambda: D.lsh_candidate_pairs(sigs))
        verified = timed(
            "dedup.verify", lambda: D.ngram_jaccard(exact, pairs).filter(F.col("jaccard") >= 0.5)
        )
        n_cand, n_ver = pairs.count(), verified.count()
        out.update({
            "text.docs_passed": float(passed.count()),
            "dedup.candidate_pairs": float(n_cand),
            "dedup.verified_pairs": float(n_ver),
            "dedup.lsh_precision": n_ver / n_cand if n_cand else 0.0,
        })
        rows = CorpusPipeline(docs).quality_filter().exact_dedup().neardup_dedup().funnel_report().collect()
        if rows:
            out["pipeline.stage_rows.input"] = float(rows[0]["n_in"])
        for r in rows:
            out[f"pipeline.stage_rows.{r['stage']}"] = float(r["n_out"])
        return out

    def layers(self) -> dict[str, float]:
        return {"dedup.neardup_recall": self.recall}

    def note(self) -> str:
        return (f"curation: {self.items} docs ({len(self.exact)} exact, {len(self.near)} near "
                f"duplicates planted), neardup_recall {self.recall:.4f}")


JOBS = {
    "replay_backfill": (Replay,),
    "curation_dedup": (Curation,),
    "batch_backfill": (Replay, Curation),
}


def run(ctx: Ctx) -> Result:
    rec = ctx.rec
    res = Result()
    jobs = [cls() for cls in JOBS[ctx.workload]]
    for j in jobs:
        j.prepare(ctx, res)

    sampler = MemorySampler(os.getpid()).start()
    t_setup = now()
    try:
        with rec.span("session.build_session"):
            spark = start_session(ctx.work, cores())
        session_s = now() - t_setup
        try:
            t = now()
            with rec.span("catalog.load_table"):
                for j in jobs:
                    j.load(spark)
            first_load_s = now() - t

            def job() -> None:
                for j in jobs:
                    j.once(spark)

            job()
            setup_s = now() - t_setup
            for _ in range(WARM_JOBS):
                job()
            for j in jobs:
                j.times.clear()

            cpu0 = cpu_by_class(engine_processes(os.getpid()))
            walls = closed_loop(job, ctx.seconds)
            cpu1 = cpu_by_class(engine_processes(os.getpid()))
            if ctx.traced:
                for j in jobs:
                    res.layers.update(j.breakdown(spark))
        finally:
            stop_session(spark)
    finally:
        sampler.stop()

    med = stats.percentile(walls, 50)
    tail_s, tail_q = stats.tail(walls, 99)
    items = sum(j.items for j in jobs)
    res.e2e.update(
        setup_s=setup_s,
        latency_p50_ms=med * 1000.0,
        latency_p99_ms=tail_s * 1000.0,
        throughput_per_s=items / med,
        peak_rss_mb=sampler.peak_mb,
    )
    res.notes.append(f"{len(walls)} timed jobs, latency_p99_ms reports p{tail_q:g}")
    res.notes.extend(j.note() for j in jobs)
    res.layers.update({
        "gen.events": float(items),
        "session.build_s": session_s,
        "catalog.first_load_s": first_load_s,
        "proc.cpu_s_jvm": cpu1["jvm"] - cpu0["jvm"],
        "proc.cpu_s_pyworker": cpu1["pyworker"] - cpu0["pyworker"],
    })
    for j in jobs:
        res.layers.update(j.layers())
    return res
