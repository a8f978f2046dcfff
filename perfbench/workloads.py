"""The benchmark's workloads: a seeded crawl and the dedup registry queries.

Each workload is a closed loop on one Python thread: every call into the
program is issued after the previous one returned. ``setup`` builds the
inputs and runs the warm-up; ``run`` is the timed region and records one
op per round, phase or query; ``check`` compares outputs against an
independent oracle outside the timed region and marks ops failed.
"""

from __future__ import annotations

import contextlib
import functools
import os
import statistics
import time

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema

from crawler_spark import analytics, tables
from crawler_spark.config import CrawlConfig
from crawler_spark.conformance import canon, conformance_errors, frame_hash
from crawler_spark.functions import text as X
from crawler_spark.functions import urls as U
from crawler_spark.operators.ordering import release_global_seq
from crawler_spark.operators.textstats import span_structure
from crawler_spark.plans import engine, round as round_plan
from crawler_spark.queries import REGISTRY
from crawler_spark.sources.corpus import (
    DOC_SCHEMA, ROBOTS_SCHEMA, doc_url, gen_corpus, to_documents_df,
)
from oracle.simulator import CrawlSimulator, SimConfig

from perfbench.trace import busy_s

# the sf0.1 documents and embeddings test tables, copied unchanged
DATA_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")


def _du(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            with contextlib.suppress(OSError):
                total += os.path.getsize(os.path.join(dirpath, f))
    return total


def _median(xs):
    return statistics.median(xs) if xs else float("nan")


def write_parquet(path: str, schema, rows: list[dict], n_files: int) -> None:
    """``rows`` as ``n_files`` parquet files of contiguous slices under
    ``path``, typed by the Spark ``schema`` (the slices a local
    ``createDataFrame`` of ``n_files`` partitions would write)."""
    os.makedirs(path)
    arrow_schema = to_arrow_schema(schema)
    for i in range(n_files):
        part = rows[i * len(rows) // n_files:(i + 1) * len(rows) // n_files]
        pq.write_table(pa.Table.from_pylist(part, arrow_schema),
                       os.path.join(path, f"part-{i:05d}.parquet"))


class Workload:
    """Shared plumbing: ops, spans (when traced) and the op timer."""

    def __init__(self, spark, seed: int, run_dir: str, tiny: bool, tracer=None):
        self.spark, self.seed, self.run_dir, self.tiny = spark, seed, run_dir, tiny
        self.tracer = tracer
        self.ops: list[dict] = []
        self.extra: dict = {}

    def span(self, name: str, **attrs):
        return self.tracer.span(name, **attrs) if self.tracer else contextlib.nullcontext()

    @contextlib.contextmanager
    def untimed(self):
        """Spans opened inside belong to the check phase, not the timed one."""
        prev = self.tracer.phase if self.tracer else None
        if self.tracer:
            self.tracer.phase = "check"
        try:
            yield
        finally:
            if self.tracer:
                self.tracer.phase = prev

    def op(self, kind: str, fn, **attrs) -> dict:
        """Time one closed-loop call as an op; an exception marks it failed."""
        rec = self.timed_call(kind, fn, **attrs)
        self.ops.append(rec)
        return rec

    def timed_call(self, kind: str, fn, **attrs) -> dict:
        rec = {"kind": kind, **attrs}
        t = time.perf_counter()
        try:
            with self.span(kind, **attrs):
                rec["result"] = fn()
            rec["ok"] = True
        except Exception as e:  # noqa: BLE001 - a failed op is counted, not fatal
            rec["ok"], rec["error"] = False, f"{type(e).__name__}: {e}"
        rec["wall_s"] = time.perf_counter() - t
        return rec


class CrawlRounds(Workload):
    """``run_crawl`` over ``gen_corpus``, in two legs on one workdir.

    Leg 1 (init, rounds 0 and 1) runs in setup and is the warm-up: the
    first round in a process pays JIT and code generation, about twice a
    warm round, and the second still pays about a fifth more. The timed
    pass is leg 2, the resume, then a report phase and a maintenance phase
    over the finished catalog.
    """

    name = "crawl-rounds"
    # rounds timed per pass: a warm round costs 9-18 s on 4 vCPUs whatever
    # its size (the fixed cost of its Spark jobs), and the budget of a
    # comparison's runs leaves room for one after the two warm-up rounds;
    # runs spread by the machine's speed, not by the rounds within one
    TIMED_ROUNDS = 1

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        hosts, pages = (4, 6) if self.tiny else (24, 40)
        self.leg1_rounds = 1 if self.tiny else 2
        timed_rounds = 1 if self.tiny else self.TIMED_ROUNDS
        docs, _, robots = gen_corpus(hosts=hosts, pages_per_host=pages, seed=self.seed)
        # every host seeded and one crawl delay for all, so each round after
        # the first schedules about hosts x horizon pages whatever the seed;
        # the robots allow/disallow rules stay as generated
        seeds = [{"url": doc_url(h, 0), "priority": 10, "depth": 0} for h in range(hosts)]
        robots = [{**r, "crawl_delay": None} for r in robots]
        self.corpus = (docs, seeds, robots)
        self.cfg = dict(
            max_depth=3, max_pages=10_000, default_delay=1.0, horizon=2.0,
            max_rounds=self.leg1_rounds + timed_rounds, n_host_buckets=4, n_seen_buckets=4,
        )
        self.passes = 0
        self.legs: list[dict] = []  # timed resume legs; their rounds are the ops

    @functools.cached_property
    def expected(self):
        """The oracle's crawl; first read in the check phase, so neither
        set-up nor timed work pays for it."""
        docs, seeds, robots = self.corpus
        sim_cfg = {k: v for k, v in self.cfg.items() if not k.startswith("n_")}
        return CrawlSimulator(docs, seeds, robots, SimConfig(**sim_cfg)).run()

    def setup(self) -> None:
        docs, _, robots = self.corpus
        # the crawl reads its corpus as parquet tables, as a deployment
        # reads its documents table, not as rows pickled from this process;
        # pyarrow writes them, so set-up spends no Spark job on its inputs
        doc_rows = [{
            "doc_id": d["doc_id"],
            "spans": [{k: s[k] for k in ("kind", "text", "media_ref", "offset")}
                      for s in d["spans"]],
            "content_type": d.get("content_type", "text/html"),
            "size_bytes": d.get("size_bytes", 0),
        } for d in docs]
        robot_rows = [{**{k: r[k] for k in ROBOTS_SCHEMA.names if k in r},
                       "rule_order": r.get("rule_order", 0)} for r in robots]
        n_files = self.spark.sparkContext.defaultParallelism
        write_parquet(os.path.join(self.run_dir, "input", "documents"), DOC_SCHEMA, doc_rows,
                      n_files)
        write_parquet(os.path.join(self.run_dir, "input", "robots"), ROBOTS_SCHEMA, robot_rows,
                      n_files)
        self.docs_df = self.spark.read.parquet(os.path.join(self.run_dir, "input", "documents"))
        self.robots_df = self.spark.read.parquet(os.path.join(self.run_dir, "input", "robots"))
        self.workdir = self._leg1()
        # warm the read-only report path on the leg-1 catalog
        self._report(self.workdir)
        # every round call is timed; in a traced run the wrappers below
        # sit inside this one, so the round span is the parent of its calls
        self._round_walls: list[float] = []
        run_round = engine.run_round

        def timed_round(*args, **kwargs):
            t = time.perf_counter()
            try:
                return run_round(*args, **kwargs)
            finally:
                self._round_walls.append(time.perf_counter() - t)

        engine.run_round = timed_round

    def _leg1(self) -> str:
        wd = os.path.join(self.run_dir, f"crawl-{self.passes}")
        docs, seeds, robots = self.corpus
        cfg = CrawlConfig(**{**self.cfg, "max_rounds": self.leg1_rounds})
        self.leg1 = engine.run_crawl(self.spark, wd, self.docs_df, self.robots_df, seeds, cfg)
        return wd

    def _report(self, wd: str) -> dict:
        out = {}
        with self.span("analytics.workdir_status"):
            out["status"] = analytics.workdir_status(self.spark, [wd])
        with self.span("analytics.session_summary"):
            out["summary"] = analytics.session_summary(self.spark, wd)
        with self.span("engine.read_crawl_order"):
            out["order"] = engine.read_crawl_order(self.spark, wd)
        return out

    def _maintain(self, wd: str) -> dict:
        cat = tables.SnapshotCatalog(wd)
        return {
            "compact_frontier": cat.compact_frontier(self.spark),
            "compact_seen": cat.compact_seen(self.spark),
            "expire_snapshots": cat.expire_snapshots(keep_last=1),
        }

    def run(self, seconds: float) -> float:
        timed = 0.0
        while True:
            if self.passes:
                with self.untimed():
                    self.workdir = self._leg1()  # a fresh leg 1
            wd, seeds = self.workdir, self.corpus[1]
            n_before = len(self._round_walls)
            crawl = self.timed_call(
                "run_crawl",
                lambda: engine.run_crawl(
                    self.spark, wd, self.docs_df, self.robots_df, seeds,
                    CrawlConfig(**self.cfg),
                ),
                pass_no=self.passes,
            )
            self.legs.append(crawl)
            rounds = self._round_walls[n_before:]
            for i, w in enumerate(rounds):
                self.ops.append({"kind": "round", "wall_s": w, "ok": crawl["ok"],
                                 "pass_no": self.passes, "round": self.leg1_rounds + i})
            report = self.op("report", lambda: self._report(wd), pass_no=self.passes)
            # before maintenance expires the per-round manifests and files
            self.history = tables.SnapshotCatalog(wd).metrics_history()
            self.extra.setdefault("catalog_bytes", []).append(_du(wd))
            self.extra["catalog_files"] = sum(len(f) for _, _, f in os.walk(wd))
            maint = self.op("maintenance", lambda: self._maintain(wd), pass_no=self.passes)
            timed += crawl["wall_s"] + report["wall_s"] + maint["wall_s"]
            with self.untimed():
                self._check_pass(wd, crawl, report)
            self.passes += 1
            if timed >= seconds:
                return timed

    def _check_pass(self, wd: str, crawl: dict, report: dict) -> None:
        """Crawl order, url_seen and word frequencies equal the simulator's;
        after compaction the frontier holds exactly its pending rows."""
        exp = self.expected
        errors = []
        if not crawl["ok"]:
            errors.append(crawl["error"])
        else:
            order = report.get("result", {}).get("order")
            if order != exp.crawl_order:
                errors.append("crawl order differs from the simulator")
            if engine.read_url_seen(self.spark, wd) != exp.url_seen:
                errors.append("url_seen differs from the simulator")
            if engine.read_word_frequencies(self.spark, wd) != exp.word_freq:
                errors.append("word frequencies differ from the simulator")
            pending = {c: e.status for c, e in exp.frontier.items() if e.status == "pending"}
            if engine.read_frontier_statuses(self.spark, wd) != pending:
                errors.append("frontier statuses differ from the simulator")
            total = self.leg1["scheduled_total"] + sum(
                r["scheduled"] for r in crawl["result"]["rounds"]
            )
            if total != len(exp.crawl_order) or crawl["result"]["scheduled_total"] != total:
                errors.append("scheduled totals do not add up")
        if errors:
            for o in self.ops:
                if o.get("pass_no") == self.passes:
                    o["ok"] = False
                    o.setdefault("error", "; ".join(errors))
        self.extra.setdefault("pages", []).append(
            crawl["result"]["scheduled_total"] - self.leg1["scheduled_total"]
            if crawl["ok"] else 0
        )

    def check(self) -> None:
        pass  # checked per pass, inside run()

    def end_to_end(self) -> dict:
        rounds = [o["wall_s"] for o in self.ops if o["kind"] == "round"]
        passes = [
            leg["wall_s"] + sum(o["wall_s"] for o in self.ops if o.get("pass_no") == leg["pass_no"]
                                and o["kind"] in ("report", "maintenance"))
            for leg in self.legs
        ]
        pages = sum(self.extra["pages"])
        return {
            "op_p50_s": (_median(rounds), "s", len(rounds)),
            "work_s": (_median(passes), "s", len(passes)),
            "throughput_per_s": (pages / sum(leg["wall_s"] for leg in self.legs), "1/s",
                                 len(self.legs)),
        }

    def details(self) -> dict:
        """The crawl-only end-to-end figures, for the full record."""
        rounds = [o["wall_s"] for o in self.ops if o["kind"] == "round"]
        by = lambda k: [o["wall_s"] for o in self.ops if o["kind"] == k]  # noqa: E731
        pages = sum(self.extra["pages"])
        return {
            "pages_per_s": pages / sum(leg["wall_s"] for leg in self.legs),
            "pages_scheduled": pages,
            "round_p50_s": _median(rounds),
            "round_max_s": max(rounds) if rounds else None,
            "rounds": len(rounds),
            "report_s": _median(by("report")),
            "maintenance_s": _median(by("maintenance")),
            "catalog_bytes_per_page": sum(self.extra["catalog_bytes"]) / max(pages, 1),
        }

    def op_spans(self, tracer) -> list[dict]:
        return [s for s in tracer.named("engine.run_round") if s["phase"] == "timed"]

    def install_trace(self, tracer) -> None:
        tracer.wrap(engine, "run_round", "engine.run_round")
        tracer.wrap(engine, "init_state", "engine.init_state")
        tracer.wrap(round_plan, "with_global_seq", "ordering.with_global_seq")
        for m in ("stage_append", "stage_replace", "stage_replace_buckets",
                  "stage_seen_init", "stage_seen_append", "commit"):
            tracer.wrap(tables.RoundCommit, m, f"tables.{m}")
        for m in ("read", "compact_frontier", "compact_seen", "expire_snapshots"):
            tracer.wrap(tables.SnapshotCatalog, m, f"tables.{m}")

    def layer_metrics(self, tracer, events: dict) -> dict:
        out: dict = {}
        timed = [s for s in tracer.spans if s["phase"] == "timed"]
        rounds = [s for s in tracer.named("engine.run_round") if s["phase"] == "timed"]
        inits = tracer.named("engine.init_state")
        out["engine.init_state_s"] = _median([s["end"] - s["start"] for s in inits])
        out["engine.rounds"] = len(rounds)
        if rounds:
            out["round.jobs_p50"] = _median([tracer.inclusive(s, "jobs") for s in rounds])
            out["round.stages_p50"] = _median([tracer.inclusive(s, "stages") for s in rounds])
            out["round.self_s"] = _median([tracer.self_s(s) for s in rounds])
            out["round.driver_idle_s"] = _median([
                (s["end"] - s["start"]) - busy_s(events["jobs"], s["start"], s["end"])
                for s in rounds
            ])
            groups = events["groups"]
            for key in ("shuffle_bytes", "spill_bytes"):
                out[f"round.{key}"] = _median([
                    sum(groups.get(g, {}).get(key, 0) for g in tracer.descendant_groups(s))
                    for s in rounds
                ])
        hist = [h for h in self.history if "wall_sec" in h and h["round"] >= self.leg1_rounds]
        for key, name in (("sched_sec", "schedule_s"), ("extract_sec", "extract_s"),
                          ("links_sec", "links_s"), ("commit_sec", "commit_s"),
                          ("scheduled", "pages"), ("fresh", "fresh"),
                          ("dirty_buckets", "dirty_buckets")):
            vals = [h[key] for h in hist if key in h]
            if vals:
                out[f"round.{name}"] = _median(vals)
        for name in ("ordering.with_global_seq", *(f"tables.{m}" for m in (
                "stage_append", "stage_replace", "stage_replace_buckets", "stage_seen_init",
                "stage_seen_append", "commit", "read", "compact_frontier", "compact_seen",
                "expire_snapshots"))):
            if name in tracer.missing:
                continue  # the program no longer has it: the metric drops out
            ss = [s for s in timed if s["name"] == name]
            out[f"{name}_s"] = sum(s["end"] - s["start"] for s in ss)
            out[f"{name}.calls"] = len(ss)
            out[f"{name}.jobs"] = sum(tracer.inclusive(s, "jobs") for s in ss)
        out["tables.files"] = self.extra["catalog_files"]
        out["tables.bytes"] = self.extra["catalog_bytes"][-1]
        for name in ("analytics.workdir_status", "analytics.session_summary",
                     "engine.read_crawl_order"):
            ss = [s for s in timed if s["name"] == name]
            out[f"{name}_s"] = _median([s["end"] - s["start"] for s in ss])
        return out


# the prefix-join kernel (dedup_jaccard_prefix), a control that bypasses it
# (dedup_exact) and the clustering path (semdedup); the other dedup entries
# did not fit the run-time budget of a fresh JVM per run
DEDUP_QUERIES = ["dedup_exact", "dedup_jaccard_prefix", "semdedup"]


def sample_tables(out_dir: str, seed: int, n_rows: int) -> None:
    """Write a seeded sample of ``n_rows`` rows of each shipped table, in a
    seeded order, as ``documents.parquet`` / ``embeddings.parquet``."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir)
    for name in ("documents", "embeddings"):
        table = pq.read_table(os.path.join(DATA_DIR, f"{name}.parquet"))
        rows = rng.choice(table.num_rows, size=min(n_rows, table.num_rows), replace=False)
        pq.write_table(table.take(rows), os.path.join(out_dir, f"{name}.parquet"))


class DedupQueries(Workload):
    """The dedup/clustering registry entries, round-robin, over a seeded
    sample of the documents and embeddings tables in the run directory."""

    name = "dedup-queries"
    MIN_PASSES = 2
    # untimed passes: after one, the next pass is still about a quarter
    # faster (JIT), so the first timed pass would sit on that slope
    WARM_PASSES = 2

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.n_rows = 60 if self.tiny else 500
        self.sf_dir = os.path.join(self.run_dir, "sf")

    def _call(self, name: str):
        df = REGISTRY[name].fn(self.spark, self.sf_dir)
        pdf = df.toPandas()
        release_global_seq(df)
        return df.schema, pdf

    def setup(self) -> None:
        sample_tables(self.sf_dir, self.seed, self.n_rows)
        for _ in range(1 if self.tiny else self.WARM_PASSES):
            for name in DEDUP_QUERIES:
                self._call(name)

    def run(self, seconds: float) -> float:
        # whole round-robin passes, at least MIN_PASSES: a pass count that
        # followed the run's speed would let fast runs sample later, warmer
        # passes than slow runs do
        timed, passes = 0.0, 0
        while passes < self.MIN_PASSES or timed < seconds:
            for name in DEDUP_QUERIES:
                rec = self.op(f"query.{name}", lambda: self._call(name), query=name)
                timed += rec["wall_s"]
            passes += 1
        return timed

    def check(self) -> None:
        """Every rep's result hash equals its DuckDB twin's (computed once
        per input), under ``crawler_spark.conformance``'s rules."""
        con = duckdb.connect()
        for t in ("documents", "embeddings"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.sf_dir}/{t}.parquet'")
        twins = {}
        for name in DEDUP_QUERIES:
            twins[name] = con.execute(REGISTRY[name].sql_text()).df()
        con.close()
        for o in self.ops:
            if not o["ok"]:
                continue
            schema, spdf = o.pop("result")
            dpdf = twins[o["query"]]
            errs = conformance_errors(schema, dpdf, spark_pdf=spdf)
            if sorted(spdf.columns) != sorted(dpdf.columns):
                errs.append("columns differ")
            elif frame_hash(canon(spdf)) != frame_hash(canon(dpdf)):
                errs.append("values differ from the DuckDB twin")
            if errs:
                o["ok"], o["error"] = False, "; ".join(errs)

    def _per_query(self) -> dict:
        return {
            q: _median([o["wall_s"] for o in self.ops if o.get("query") == q])
            for q in DEDUP_QUERIES
        }

    def end_to_end(self) -> dict:
        per = self._per_query()
        n = min(sum(1 for o in self.ops if o.get("query") == q) for q in DEDUP_QUERIES)
        work = sum(per.values())
        return {
            "op_p50_s": (_median(list(per.values())), "s", n),
            "work_s": (work, "s", n),
            "throughput_per_s": (self.n_rows * len(per) / work, "1/s", n),
        }

    def details(self) -> dict:
        return {"queries_s": sum(self._per_query().values()),
                **{f"{q}_s": v for q, v in self._per_query().items()}}

    def op_spans(self, tracer) -> list[dict]:
        return [s for s in tracer.spans
                if s["name"].startswith("query.") and s["phase"] == "timed" and "end" in s]

    def install_trace(self, tracer) -> None:
        pass  # each query op is its own span

    def layer_metrics(self, tracer, events: dict) -> dict:
        out = {}
        groups = events["groups"]
        for q in DEDUP_QUERIES:
            ss = [s for s in tracer.named(f"query.{q}") if s["phase"] == "timed"]
            out[f"query.{q}_s"] = _median([s["end"] - s["start"] for s in ss])
            out[f"query.{q}_jobs"] = _median([s["jobs"] for s in ss])
            out[f"query.{q}_stages"] = _median([s["stages"] for s in ss])
            out[f"query.{q}_shuffle_bytes"] = _median(
                [groups.get(s["group"], {}).get("shuffle_bytes", 0) for s in ss]
            )
        return out


WORKLOADS = {w.name: w for w in (CrawlRounds, DedupQueries)}


def probe_layers(spark, seed: int, tiny: bool, reps: int = 3) -> dict:
    """Per-row rates of two function layers over a seeded corpus, each
    written to the noop sink: the link chain of ``functions.urls`` and the
    extraction of ``functions.text``. Median of ``reps`` after one warm-up."""
    hosts, pages = (4, 6) if tiny else (40, 50)
    docs, _, _ = gen_corpus(hosts=hosts, pages_per_host=pages, seed=seed + 1)
    df = to_documents_df(spark, docs).cache()
    n_docs = df.count()
    links = df.select(
        F.col("doc_id").alias("src"), F.explode(X.link_spans(F.col("spans"))).alias("span")
    ).cache()
    n_links = links.count()
    chain = (
        links.withColumn("absolute", U.resolve_link_udf(F.col("span.text"), F.col("src")))
        .where(F.col("absolute").isNotNull())
        .where(U.is_valid_url_udf(F.col("absolute")))
        .withColumn("norm", U.normalize_url_udf(F.col("absolute")))
        .where(F.col("norm").isNotNull())
        .select(U.canonicalize_url_udf(F.col("norm")).alias("canonical"))
    )
    text = df.select(
        X.tokens(X.worker_clean_text(F.col("spans"))).alias("tokens"),
        span_structure(F.col("spans")).alias("structure"),
    )

    def rate(frame, n):
        walls = []
        for i in range(reps + 1):
            t = time.perf_counter()
            frame.write.format("noop").mode("overwrite").save()
            if i:
                walls.append(time.perf_counter() - t)
        return n / statistics.median(walls)

    out = {"urls.links_per_s": rate(chain, n_links), "text.pages_per_s": rate(text, n_docs)}
    links.unpersist()
    df.unpersist()
    return out
