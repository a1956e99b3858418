"""The benchmark workloads: ``search_serve`` and ``analytics_batch``.

Each is a closed loop with one client: the next op starts only when
the previous one has returned and its result is materialised.  A
workload object owns its inputs and on-disk state and exposes:

- ``prepare(tr)`` — the data set-up (index build, or harvest and
  streaming ingest of the analytics inputs);
- ``op(i, tr)``  — run op ``i`` of the seeded sequence and return
  ``(kind, items, ok)``; ``tr`` is the run's tracer (a no-op when off);
  a traced op makes the same calls as an untraced one;
- ``aside(i, tr)`` — in a traced run, before traced op ``i`` and outside
  its span: extra per-layer probes (say, a layer the op calls inside);
- ``layer_op(i, tr)`` — in a traced run, after the window, ``layer_ops``
  times: an op split into its layers' calls, each materialised in its
  own span; returns whether its result is right;
- ``check()``   — the output checks run after the timed window; returns
  ``(checks, failed)``: verification ops it ran itself, and how many of
  those or of the run's op results failed;
- ``layer_metrics(tr)`` — per-layer figures read from spans and disk;
- ``close()``   — stop anything the workload started;

and the warm-up rule: ``warm_window`` primary ops compared with the
``warm_window`` before them must be within ``warm_tol``, spending at
most ``warm_budget_s``.  The op kinds repeat every ``cycle`` ops; the
timed window starts at the start of a cycle and ends at the end of one,
so every window runs the same mix of op kinds.

Only public functions of the program are called.
"""

from __future__ import annotations

import os
import random

from pyspark.sql import functions as F

from cloud_native_reddit_data_pipeline_spark.operators.search_index import (
    search_index_append,
    search_index_build,
    search_index_delete,
    search_index_query,
)
from cloud_native_reddit_data_pipeline_spark.operators.textstats import (
    ranked_keyword_search_bm25,
)
from cloud_native_reddit_data_pipeline_spark.operators.topics import (
    fit_topics,
    topic_names,
    widen_topics,
)
from cloud_native_reddit_data_pipeline_spark.functions.sentiment import score_relational
from cloud_native_reddit_data_pipeline_spark.plans.analytics import (
    prepare_corpus,
    run_analytics,
)
from cloud_native_reddit_data_pipeline_spark.sources.harvester import SubredditHarvester
from cloud_native_reddit_data_pipeline_spark.storage.manifest import manifest_state, store_base
from cloud_native_reddit_data_pipeline_spark.streaming.ingest import (
    ingest_comments_stream,
    ingest_posts_stream,
    read_bucketed_table,
    start_upsert_stream,
    stream_metrics,
)

from . import gen
from .stats import fewest, median

DOCS_DDL = "doc_id long, text string"


def _dir_files(root: str, suffix: str = ".parquet") -> dict[str, tuple[int, int]]:
    """path -> (size, mtime) of every data file under ``root``."""
    out = {}
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            if f.endswith(suffix):
                p = os.path.join(dirpath, f)
                st = os.stat(p)
                out[p] = (st.st_size, st.st_mtime_ns)
    return out


def _med(values: list[float]) -> float:
    return median(values) if values else 0.0


class SearchServe:
    """BM25 queries against a persisted index, with appends and deletes
    at fixed positions of the op sequence."""

    name = "search_serve"
    primary = "query"
    kinds = ("query", "append", "delete")
    warm_window, warm_tol, warm_budget_s = 4, 0.05, 30.0
    cycle = 2 * gen.WRITE_EVERY
    layer_ops = 0
    n_docs = 2000
    top_k = 10
    check_queries = 2

    def __init__(self, spark, seed: int, workdir: str) -> None:
        self.spark = spark
        self.seed = seed
        self.index_dir = os.path.join(workdir, "search_index")
        self.inputs = gen.search_inputs(seed, self.n_docs, n_ops=2000)
        self.live: dict[int, str] = {}
        self.snapshot: tuple = ()  # the live corpus, frozen at the last write
        self.answers: list[tuple] = []  # (keywords, result rows, snapshot)

    def prepare(self, tr) -> None:
        self.live = dict(self.inputs.corpus)
        docs = self.spark.createDataFrame(self.inputs.corpus, DOCS_DDL)
        search_index_build(docs, self.index_dir).collect()
        for n, o in enumerate(self.inputs.setup):
            if not self._write(o, -1 - n, tr):
                raise RuntimeError(f"set-up {o.kind} returned a wrong receipt")

    def kind_at(self, i: int) -> str:
        return self.inputs.ops[i].kind

    def aside(self, i: int, tr) -> None:
        """The query resolves the manifest itself; this extra call times
        that layer on its own."""
        if self.kind_at(i) == "query":
            with tr.span("manifest.state", i):
                manifest_state(self.spark, store_base(self.index_dir, "v1"))

    def op(self, i: int, tr):
        o = self.inputs.ops[i]
        if o.kind != "query":
            return o.kind, len(o.docs or o.delete_ids), self._write(o, i, tr)
        with tr.span("search.query", i, keywords=len(o.keywords)):
            rows = search_index_query(self.spark, self.index_dir, o.keywords, k=self.top_k).collect()
        self.answers.append((o.keywords, [tuple(r) for r in rows], self.snapshot))
        scores = [r["score"] for r in rows]
        ok = (
            len(rows) <= self.top_k
            and scores == sorted(scores, reverse=True)
            and all(r["doc_id"] in self.live for r in rows)
        )
        return "query", 1, ok

    def _write(self, o, i: int, tr) -> bool:
        """Apply an append or delete; True when its receipt is right."""
        if o.kind == "append":
            with tr.span("search.append", i, docs=len(o.docs)):
                new = self.spark.createDataFrame(o.docs, DOCS_DDL)
                manifest = search_index_append(self.spark, new, self.index_dir).collect()
            self.live.update(o.docs)
            # every generated document has at least one term
            ok = sum(r["n_postings"] for r in manifest) >= len(o.docs)
        else:
            with tr.span("search.delete", i, ids=len(o.delete_ids)):
                receipt = search_index_delete(self.spark, self.index_dir, o.delete_ids).collect()[0]
            for d in o.delete_ids:
                self.live.pop(d, None)
            ok = receipt["n_live_docs_removed"] == len(o.delete_ids)
        self.snapshot = tuple(sorted(self.live.items()))
        return ok

    def check(self) -> tuple[int, int]:
        """A seeded sample of the run's query answers, each compared
        with the corpus-scan BM25 ranker over the live corpus as it was
        when the query ran; each is one check, failed when they differ."""
        rng = random.Random(f"check:{self.seed}")
        sample = rng.sample(self.answers, min(self.check_queries, len(self.answers)))
        corpora: dict[int, object] = {}
        bad = 0
        for kws, got, snapshot in sample:
            if id(snapshot) not in corpora:
                corpora[id(snapshot)] = self.spark.createDataFrame(list(snapshot), DOCS_DDL)
            corpus = corpora[id(snapshot)]
            want = [
                tuple(r)
                for r in ranked_keyword_search_bm25(corpus, "doc_id", "text", kws, k=self.top_k).collect()
            ]
            bad += got != want
        return len(sample), bad

    def layer_metrics(self, tr) -> dict:
        # op ids below 0 are the cold set-up writes; leave them out
        q, a, d = (
            [s for s in tr.named(n) if s.op_id >= 0]
            for n in ("search.query", "search.append", "search.delete")
        )
        base = store_base(self.index_dir, "v1")
        gens = [n for n in os.listdir(base) if n == "postings" or n.startswith("postings_g")]
        return {
            "search.query_ms": (_med([s.ms for s in q]), "ms"),
            "search.query_jobs": (fewest([s.jobs for s in q]), "count"),
            "search.query_tasks": (fewest([s.tasks for s in q]), "count"),
            "search.append_ms": (_med([s.ms for s in a]), "ms"),
            "search.append_jobs": (fewest([s.jobs for s in a]), "count"),
            "search.delete_ms": (_med([s.ms for s in d]), "ms"),
            "search.postings_files": (
                sum(len(_dir_files(os.path.join(base, g))) for g in gens),
                "count",
            ),
            "search.generations": (len(gens), "count"),
            "manifest.state_ms": (_med([s.ms for s in tr.named("manifest.state")]), "ms"),
        }

    def close(self) -> None:
        pass


class Ingest:
    """EP0-EP2: harvest -> file queue -> two long-lived streaming upsert
    queries (posts keyed on ``id``, comments on ``c_id``) at
    ``trigger_seconds=0``; one batch is one ``harvest_once`` followed by
    ``processAllAvailable`` on both queries."""

    def __init__(self, spark, seed: int, workdir: str, page_size: int) -> None:
        self.spark = spark
        self.queue = os.path.join(workdir, "queue")
        self.posts_table = os.path.join(workdir, "posts_table")
        self.comments_table = os.path.join(workdir, "comments_table")
        self.client = gen.FakeRedditClient(seed, page_size)
        self.page_size = page_size
        self.queries = []
        self.batch_stats: list[dict] = []
        self.state_rows = 0

    def start(self) -> None:
        for topic in ("rharvest", "rharvestcomment"):
            os.makedirs(os.path.join(self.queue, f"topic={topic}"), exist_ok=True)
        ckpt = os.path.join(os.path.dirname(self.queue), "ckpt")
        self.queries = [
            start_upsert_stream(
                ingest_posts_stream(self.spark, self.queue),
                self.posts_table,
                os.path.join(ckpt, "posts"),
                trigger_seconds=0,
            ),
            start_upsert_stream(
                ingest_comments_stream(self.spark, self.queue),
                self.comments_table,
                os.path.join(ckpt, "comments"),
                key="c_id",
                trigger_seconds=0,
            ),
        ]

    def batch(self, i: int, tr) -> None:
        """Harvest one page and drain it through both streams.  The
        harvester gets a fresh seen-set, so the client's redeliveries
        reach the streams' dedup, as with several harvester instances;
        its batch cap is above the page size, so it takes whole pages."""
        harvester = SubredditHarvester(self.client, self.queue, batch_size=2 * self.page_size, seen=set())
        with tr.span("harvester.harvest_once", i):
            harvester.harvest_once()
        before = _dir_files(self.posts_table)
        n_progress = [len(q.recentProgress) for q in self.queries]
        with tr.span("ingest.drain", i):
            for q in self.queries:
                q.processAllAvailable()
        for q in self.queries:
            if q.exception() is not None or not q.isActive:
                raise RuntimeError(f"ingest stream stopped: {q.exception()}")
        self._record_batch(before, n_progress)

    def _record_batch(self, before: dict, n_progress: list[int]) -> None:
        after = _dir_files(self.posts_table)
        changed = {p: v for p, v in after.items() if before.get(p) != v}
        queue_dir = os.path.join(self.queue, "topic=rharvest")
        newest = max((os.path.join(queue_dir, f) for f in os.listdir(queue_dir)), key=os.path.getmtime)
        progress = [p for q, n in zip(self.queries, n_progress) for p in q.recentProgress[n:]]
        dur = [p.get("durationMs", {}) for p in progress]
        self.batch_stats.append(
            {
                "batches": len(progress),
                "buckets_touched": len({os.path.dirname(p) for p in changed}),
                "bytes_written": sum(v[0] for v in changed.values()),
                "input_bytes": os.path.getsize(newest),
                "table_files": len(after),
                "add_batch_ms": sum(d.get("addBatch", 0) for d in dur),
                "query_planning_ms": sum(d.get("queryPlanning", 0) for d in dur),
                "wal_commit_ms": sum(d.get("walCommit", 0) for d in dur),
            }
        )

    def check(self) -> int:
        """One check per table: it holds exactly the distinct harvested
        keys, once each.  Returns the number of failed checks."""
        bad = 0
        for table, key, want in (
            (self.posts_table, "id", self.client.distinct_ids()),
            (self.comments_table, "c_id", self.client.distinct_comment_ids()),
        ):
            keys = [r[key] for r in read_bucketed_table(self.spark, table).select(key).collect()]
            bad += len(keys) != len(want) or set(keys) != want
        return bad

    def stop(self) -> None:
        for q in self.queries:
            self.state_rows = max(self.state_rows, stream_metrics(q)["max_state_rows"])
            q.stop()
        self.queries = []

    def layer_metrics(self, tr) -> dict:
        drains = tr.named("ingest.drain")
        bs = self.batch_stats
        return {
            "harvester.enqueue_ms": (_med([s.ms for s in tr.named("harvester.harvest_once")]), "ms"),
            "ingest.batch_ms": (_med([s.ms for s in drains]), "ms"),
            "ingest.add_batch_ms": (_med([b["add_batch_ms"] for b in bs]), "ms"),
            "ingest.query_planning_ms": (_med([b["query_planning_ms"] for b in bs]), "ms"),
            "ingest.wal_commit_ms": (_med([b["wal_commit_ms"] for b in bs]), "ms"),
            "ingest.jobs_per_batch": (
                sum(s.jobs for s in drains) / max(1, sum(b["batches"] for b in bs)),
                "count",
            ),
            "ingest.state_rows": (self.state_rows, "count"),
            "upsert.buckets_touched": (_med([b["buckets_touched"] for b in bs]), "count"),
            "upsert.bytes_written_per_input_byte": (
                sum(b["bytes_written"] for b in bs) / max(1, sum(b["input_bytes"] for b in bs)),
                "ratio",
            ),
            "upsert.table_files": (bs[-1]["table_files"] if bs else 0, "count"),
        }


class AnalyticsBatch:
    """The EP3 job (`run_analytics`, k=20), run repeatedly over fixed
    post and comment parquet files.  Set-up makes those files the way
    the pipeline does: seeded Reddit pages are harvested and drained
    through the EP0-EP2 streaming upsert (`Ingest`), checked, and the
    upserted tables written out once."""

    name = "analytics_batch"
    primary = "run_analytics"
    kinds = ("run_analytics",)
    warm_window, warm_tol, warm_budget_s = 1, 0.1, 40.0
    cycle = 1
    layer_ops = 1
    ingest_batches = 2
    page_size = 180
    k = 20

    def __init__(self, spark, seed: int, workdir: str) -> None:
        self.spark = spark
        self.seed = seed
        self.workdir = workdir
        self.ingest = Ingest(spark, seed, workdir, self.page_size)
        self.posts = self.comments = None
        self.expected_rows = 0
        self.ingest_failures = 0
        self.results: list[tuple] = []

    def prepare(self, tr) -> None:
        self.ingest.start()
        try:
            for b in range(self.ingest_batches):
                self.ingest.batch(-1 - b, tr)
            self.ingest_failures = self.ingest.check()
        finally:
            self.ingest.stop()
        pdir = os.path.join(self.workdir, "posts.parquet")
        cdir = os.path.join(self.workdir, "comments.parquet")
        read_bucketed_table(self.spark, self.ingest.posts_table).coalesce(1).write.parquet(pdir)
        read_bucketed_table(self.spark, self.ingest.comments_table).coalesce(1).write.parquet(cdir)
        self.posts = self.spark.read.parquet(pdir)
        self.comments = self.spark.read.parquet(cdir)
        self.expected_rows = prepare_corpus(self.posts, self.comments).count()

    def kind_at(self, i: int) -> str:
        return "run_analytics"

    def aside(self, i: int, tr) -> None:
        pass

    def op(self, i: int, tr):
        analysis, names_df = run_analytics(self.posts, self.comments, k=self.k, batch_id=f"b{i}")
        rows, names = analysis.collect(), names_df.collect()
        self.results.append((rows, names))
        return "run_analytics", len(rows), True

    def layer_op(self, i: int, tr) -> bool:
        """`run_analytics`'s steps called one by one, in its order, each
        result materialised inside its own span; its result goes through
        the same checks as the ops'."""
        with tr.span("layers", i):
            with tr.span("analytics.prepare_corpus", i):
                corpus = (
                    prepare_corpus(self.posts, self.comments)
                    .withColumn("_doc", F.monotonically_increasing_id())
                    .localCheckpoint(eager=True)
                )
            with tr.span("sentiment.score_relational", i):
                sent = score_relational(corpus, ["_doc"], "text").localCheckpoint(eager=True)
            corpus_s = corpus.join(sent, "_doc")
            with tr.span("topics.fit_topics", i):
                model, transformed = fit_topics(corpus_s, id_col="_doc", text_col="text", k=self.k, seed=42)
            with tr.span("topics.widen_topics", i):
                wide = widen_topics(transformed, ["_doc"], k=self.k).localCheckpoint(eager=True)
            with tr.span("topics.topic_names", i):
                names = topic_names(model, top_n=10).withColumn("batch_id", F.lit(f"b{i}")).collect()
            with tr.span("analytics.assemble", i):
                rows = (
                    corpus_s.join(wide, "_doc").drop("_doc").withColumn("batch_id", F.lit(f"b{i}")).collect()
                )
        self.results.append((rows, names))
        return True

    def check(self) -> tuple[int, int]:
        """The two ingest table checks of set-up, then the A4/A5 output
        contracts on every materialised result: the row count equals the
        filtered corpus count; each row's k topic components are
        non-negative and sum to 1 and its sentiment label follows its
        score; there are k ``topic_N: ...`` names.  A result that breaks
        any of them is a failed op."""
        bad = self.ingest_failures
        for rows, names in self.results:
            ok = len(rows) == self.expected_rows and len(names) == self.k
            for r in rows:
                topics = [r[f"topic_{t + 1}"] for t in range(self.k)]
                s = r["sentiment_score"]
                label = "positive" if s > 0.05 else ("negative" if s < -0.05 else "neutral")
                ok &= min(topics) >= 0 and abs(sum(topics) - 1.0) <= 1e-6 and r["sentiment"] == label
            ok &= all(n["topic_name"].startswith(f"topic_{n['topic'] + 1}: ") for n in names)
            bad += not ok
        self.results.clear()
        return 2, bad

    def layer_metrics(self, tr) -> dict:
        fits = tr.named("topics.fit_topics")
        return self.ingest.layer_metrics(tr) | {
            "analytics.prepare_ms": (_med([s.ms for s in tr.named("analytics.prepare_corpus")]), "ms"),
            "sentiment.score_ms": (_med([s.ms for s in tr.named("sentiment.score_relational")]), "ms"),
            "topics.fit_ms": (_med([s.ms for s in fits]), "ms"),
            "topics.jobs_per_fit": (fewest([s.jobs for s in fits]), "count"),
            "topics.widen_ms": (_med([s.ms for s in tr.named("topics.widen_topics")]), "ms"),
            "topics.names_ms": (_med([s.ms for s in tr.named("topics.topic_names")]), "ms"),
        }

    def close(self) -> None:
        self.ingest.stop()


# Every per-layer metric, with its unit; a traced run reports all of
# them, and a layer its workload never calls reads 0.
LAYER_METRICS = [
    ("spark.jobs_per_op", "count"),
    ("spark.tasks_per_op", "count"),
    ("spark.failed_tasks", "count"),
    ("jvm.gc_ms", "ms"),
    ("session.build_s", "s"),
    ("trace.overhead_ms", "ms"),
    ("search.query_ms", "ms"),
    ("search.query_jobs", "count"),
    ("search.query_tasks", "count"),
    ("search.append_ms", "ms"),
    ("search.append_jobs", "count"),
    ("search.delete_ms", "ms"),
    ("search.postings_files", "count"),
    ("search.generations", "count"),
    ("manifest.state_ms", "ms"),
    ("harvester.enqueue_ms", "ms"),
    ("ingest.batch_ms", "ms"),
    ("ingest.add_batch_ms", "ms"),
    ("ingest.query_planning_ms", "ms"),
    ("ingest.wal_commit_ms", "ms"),
    ("ingest.jobs_per_batch", "count"),
    ("ingest.state_rows", "count"),
    ("upsert.buckets_touched", "count"),
    ("upsert.bytes_written_per_input_byte", "ratio"),
    ("upsert.table_files", "count"),
    ("analytics.prepare_ms", "ms"),
    ("sentiment.score_ms", "ms"),
    ("topics.fit_ms", "ms"),
    ("topics.jobs_per_fit", "count"),
    ("topics.widen_ms", "ms"),
    ("topics.names_ms", "ms"),
]

WORKLOADS = {w.name: w for w in (SearchServe, AnalyticsBatch)}
