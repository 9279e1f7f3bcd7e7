"""The three closed-loop workloads.

Each workload has the same shape:

- ``prepare(spark)`` creates its input on disk (not part of set-up:
  the input stands for data the system is handed);
- ``setup(spark)`` loads and persists what a pass needs and starts the
  Python workers; it is repeated, and its median is part of ``setup_s``;
- ``init_engine(spark, call)`` builds the engine state a pass starts
  from (crawl: ``CrawlEngine`` + ``init``; webtext: the default models);
  it is part of ``setup_s``;
- ``run_pass(spark, call)`` runs one timed pass and returns ``Op``
  records; ``call(name, fn, *args)`` runs a step, inside a span when
  the run is traced;
- ``check(spark, ops)`` compares the pass's outputs with the pinned or
  simulated ones outside the timed window and marks failed ops.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import time
import traceback
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
PINS_PATH = os.path.join(HERE, "pins.json")

# bench.py's 45 headline queries. The webtext workload runs two of the
# four webtext pipelines plus the IVF top-k and SemDeDup kernels (the
# operators.similarity and operators.semdedup paths); the analytics
# workload, run by hand on a full sf0.1 directory, runs the other 41
WEBTEXT_QUERIES = ("webtext_pipeline", "webtext_to_shards", "embedding_knn_ivf", "semantic_dedup")
ANALYTICS_QUERIES = (
    "lang_profile", "token_counts", "quality_score", "dedup_exact",
    "batch_summary", "exec_history_page", "priority_topk",
    "response_histogram", "health_score", "accept_dispatch", "url_validate",
    "seen_antijoin", "fetch_join", "wave_metrics", "response_p95",
    "detect_lang_counts", "windowed_counts", "multi_accept", "embedding_knn",
    "embedding_knn_ivf", "embedding_knn_lsh", "media_features",
    "multi_format_fanout", "fingerprint_groups", "extract_lang_profile",
    "drop_repeated_spans", "gopher_quality", "token_windows", "pii_redact",
    "decontaminate", "link_pagerank", "corpus_rollup", "bpe_token_counts",
    "bpe_token_windows", "token_pack_shards", "hll_wave_merge",
    "lm_perplexity", "quality_classifier", "embedding_knn_ivf2",
    "semantic_dedup", "url_quality_filter",
)

# Copies of the repository's seed-42 fixture tables (TESTDATA.md): the
# sf0.1 tables the webtext workload reads, and the sf0.01 / sf0.001
# tables the program trains its default BPE vocab, LM, classifier and
# SemDeDup centroids from
DATA = os.path.join(HERE, "data")
SF_DIR = os.path.join(DATA, "sf0.1")
# rows a query reads, by the table it reads them from
INPUT_TABLE = {
    "webtext_pipeline": "documents", "webtext_to_shards": "documents",
    "embedding_knn_ivf": "embeddings", "semantic_dedup": "embeddings",
}


def model_corpus_env() -> dict[str, str]:
    """The program's default models train from the fixture files named
    by these variables; point them at the copies in ``DATA`` (the same
    files as the defaults), so a run reads nothing outside the
    checkout."""
    return {
        "SPARK_GRAFT_LM_CORPUS": os.path.join(DATA, "sf0.001", "documents.parquet"),
        "SPARK_GRAFT_EMB_CORPUS": os.path.join(DATA, "sf0.001", "embeddings.parquet"),
        "SPARK_GRAFT_BPE_SF_DIR": os.path.join(DATA, "sf0.01"),
    }


# crawl corpus: generate_web_graph(CRAWL_HOSTS, CRAWL_PAGES_PER_HOST,
# seed=CRAWL_GRAPH_SEED), generated once per checkout; --seed picks
# CRAWL_SEEDS_PER_HOST start urls per host. CRAWL_WAVES timed waves, and
# no untimed warm-up wave: a wave costs ~10 s on 4 cores, and every run
# must fit the benchmark's time budget.
CRAWL_HOSTS = 1000
CRAWL_PAGES_PER_HOST = 60
CRAWL_GRAPH_SEED = 42
CRAWL_SEEDS_PER_HOST = 4
CRAWL_WAVES = 2
_WAVE_KEYS = (
    "n_frontier_in", "n_unseen", "n_denied", "n_ok", "n_missing_retry",
    "n_failed", "n_too_large", "n_discovered", "n_frontier_out", "n_seen_out",
)


@dataclass
class Op:
    name: str
    wall: float
    ok: bool = True
    error: str | None = None
    items: int = 0
    out: object = None


def plain(_name, fn, *args, **kwargs):
    """The ``call`` of an untraced run: call ``fn`` without a span."""
    return fn(*args, **kwargs)


def load_pins() -> dict:
    if not os.path.exists(PINS_PATH):
        return {}
    with open(PINS_PATH) as fh:
        return json.load(fh)


def start_python_workers(spark) -> None:
    """One small Arrow round trip, which starts the Python workers."""
    def ident(batches):
        yield from batches

    spark.range(0, 4096, numPartitions=spark.sparkContext.defaultParallelism) \
        .mapInPandas(ident, "id long").count()


def fold_hash(df):
    """(rows, bit_xor(xxhash64(every column))) — forces every output
    column, like bench.py's aggregate."""
    from pyspark.sql import functions as F

    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.bit_xor(F.xxhash64(*[F.col(c) for c in df.columns])).alias("h"),
    ).collect()[0]
    return [int(row["n"]), int(row["h"] or 0)]


# ---------------------------------------------------------------------------
class QueryWorkload:
    """Runs named queries from ``downloader_spark.queries.Q`` on the
    sf0.1 tables; each query is forced by ``fold_hash`` and its
    (rows, hash) compared with the pins."""

    name = ""
    queries: tuple[str, ...] = ()

    def __init__(self, work: str, seed: int, sf_dir: str = SF_DIR) -> None:
        self.work = work
        self.seed = seed
        self.sf_dir = sf_dir
        self.rows: dict[str, int] = {}

    def prepare(self, spark) -> None:
        import pyarrow.parquet as pq

        for t in ("documents", "embeddings"):
            path = os.path.join(self.sf_dir, f"{t}.parquet")
            self.rows[t] = pq.ParquetFile(path).metadata.num_rows

    def setup(self, spark) -> None:
        """Every query reads its tables itself, so set-up is resolving
        the tables and starting the Python workers."""
        for t in ("documents", "embeddings"):
            spark.read.parquet(os.path.join(self.sf_dir, f"{t}.parquet")).schema
        start_python_workers(spark)

    def init_engine(self, spark, call=plain) -> None:
        """Trains the default BPE vocab, LM and classifier; the program
        trains each once per process and caches it."""
        from downloader_spark.functions.bpe import default_merges
        from downloader_spark.functions.classifier import default_classifier
        from downloader_spark.functions.lm import default_lm

        default_merges(), default_lm(), default_classifier()

    def order(self, pass_no: int) -> list[str]:
        """Fixed: a cold pass's one-time warm-up lands on its first
        queries (on 4 cores webtext_to_shards takes ~23 s first and
        ~13 s after the other three), so a seed-dependent order would
        add a spread of its own."""
        return list(self.queries)

    def items_of(self, name: str) -> int:
        return 1

    def run_pass(self, spark, call, pass_no: int = 0) -> list[Op]:
        from downloader_spark.operators.dedup import release_result
        from downloader_spark.queries import Q

        ops = []
        for name in self.order(pass_no):
            t0 = time.perf_counter()
            try:
                df = call(f"query.build:{name}", Q[name], spark, self.sf_dir)
                out = call(f"query.collect:{name}", fold_hash, df)
                ops.append(Op(name, time.perf_counter() - t0, out=out, items=self.items_of(name)))
                release_result(df)
            except Exception as e:  # counted in failed_ratio
                traceback.print_exc()
                ops.append(Op(name, time.perf_counter() - t0, ok=False, error=repr(e)[:300]))
        return ops

    def check(self, spark, ops: list[Op]) -> None:
        pins = load_pins().get("queries", {})
        for op in ops:
            if op.ok and pins.get(op.name) != op.out:
                op.ok = False
                op.error = f"output {op.out} != pinned {pins.get(op.name)}"

    def pin(self, spark) -> dict:
        ops = self.run_pass(spark, plain)
        bad = [o for o in ops if not o.ok]
        if bad:
            raise RuntimeError(f"cannot pin failing queries: {bad}")
        return {o.name: o.out for o in ops}


class WebtextWorkload(QueryWorkload):
    name = "webtext"
    queries = WEBTEXT_QUERIES

    def items_of(self, name: str) -> int:
        return self.rows[INPUT_TABLE[name]]  # each query reads its whole input table


class AnalyticsWorkload(QueryWorkload):
    name = "analytics"
    queries = ANALYTICS_QUERIES

    def order(self, pass_no: int) -> list[str]:
        """Seed-shuffled, so that the warm-up lands on other queries
        from seed to seed."""
        names = list(self.queries)
        random.Random(self.seed * 1000 + pass_no).shuffle(names)
        return names


# ---------------------------------------------------------------------------
class CrawlWorkload:
    """Batch crawl: CrawlEngine.init on a fresh warehouse (set-up), then
    a pass of CRAWL_WAVES timed calls of run_wave (fewer if the frontier
    drains)."""

    name = "crawl"

    def __init__(self, work: str, seed: int) -> None:
        self.work = work
        self.seed = seed
        self.pages_path = os.path.join(
            work, "pages",
            f"h{CRAWL_HOSTS}-p{CRAWL_PAGES_PER_HOST}-g{CRAWL_GRAPH_SEED}.parquet",
        )
        self.seeds: list[str] = []
        self.pages = None
        self.engine = None
        self.metrics = []  # WaveMetrics of every wave the engine ran
        self._wh_no = 0

    @staticmethod
    def config():
        from downloader_spark.plans.crawlconfig import CrawlConfig

        # bloom_min_seen=1: the Bloom seen-filter is maintained from the
        # first wave on, so every wave makes its five snapshot commits
        # (results, seen, bloom, frontier, metrics)
        return CrawlConfig(
            wave_seconds=60, max_per_host_per_wave=20, max_depth=3, bloom_min_seen=1,
        )

    def prepare(self, spark) -> None:
        if not os.path.exists(os.path.join(self.pages_path, "_SUCCESS")):
            from downloader_spark.sources.pagegen import generate_web_graph

            generate_web_graph(
                spark, n_hosts=CRAWL_HOSTS, pages_per_host=CRAWL_PAGES_PER_HOST,
                seed=CRAWL_GRAPH_SEED,
            ).write.mode("overwrite").parquet(self.pages_path)
        import pyarrow.parquet as pq

        urls = pq.read_table(self.pages_path, columns=["url"]).column("url").to_pylist()
        self.seeds = self.start_urls(urls, self.seed)

    @staticmethod
    def start_urls(urls, seed: int) -> list[str]:
        """CRAWL_SEEDS_PER_HOST pages of every host, drawn by ``seed``."""
        by_host: dict[str, list[str]] = {}
        for u in sorted(urls):
            if not u.endswith("/robots.txt"):
                by_host.setdefault(u.split("/")[2], []).append(u)
        rng = random.Random(seed)
        return [
            u for host in sorted(by_host)
            for u in rng.sample(by_host[host], min(CRAWL_SEEDS_PER_HOST, len(by_host[host])))
        ]

    def _fresh_warehouse(self) -> str:
        self._wh_no += 1
        path = os.path.join(self.work, "warehouse", f"crawl-{self._wh_no}")
        shutil.rmtree(path, ignore_errors=True)
        return path

    def release(self) -> None:
        if self.engine is not None:
            self.engine.close()
            self.engine = None
        if self.pages is not None:
            self.pages.unpersist()
            self.pages = None

    def setup(self, spark) -> None:
        """Load and persist the pages table; start the Python workers."""
        from pyspark import StorageLevel

        self.release()
        self.pages = spark.read.parquet(self.pages_path).persist(StorageLevel.MEMORY_AND_DISK)
        self.pages.count()
        start_python_workers(spark)

    def init_engine(self, spark, call=plain) -> None:
        """A fresh warehouse and engine with the frontier seeded: the
        state the first wave starts from."""
        from downloader_spark.plans.wave import CrawlEngine

        if self.engine is not None:
            self.engine.close()
        self.engine = CrawlEngine(spark, self._fresh_warehouse(), self.pages, self.config())
        call("wave.init", self.engine.init, self.seeds)
        self.metrics = []

    def run_pass(self, spark, call, pass_no: int = 0) -> list[Op]:
        ops = []
        first = self.engine.next_wave
        for w in range(first, first + CRAWL_WAVES):
            t0 = time.perf_counter()
            try:
                m = self.engine.run_wave(w)
            except Exception as e:  # a failed wave ends the pass
                traceback.print_exc()
                ops.append(Op(f"wave{w}", time.perf_counter() - t0, ok=False, error=repr(e)[:300]))
                break
            ops.append(Op(f"wave{w}", time.perf_counter() - t0, items=m.n_frontier_in, out=m))
            self.metrics.append(m)
            if m.n_frontier_out == 0:
                break
        return ops

    # -- output check ----------------------------------------------------------
    def engine_outputs(self) -> dict:
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        res = self.engine.all_results()
        w = Window.partitionBy("url").orderBy(F.desc("wave"))
        final = (
            res.withColumn("_rn", F.row_number().over(w)).filter("_rn = 1")
            .select("url", "status", F.when(F.col("status") == "ok", F.col("text")).alias("text"))
        )
        return {
            "waves": [{k: getattr(m, k) for k in _WAVE_KEYS} for m in self.metrics],
            "fold": fold_hash(final),
        }

    def simulated_outputs(self, spark, n_waves: int) -> dict:
        from downloader_spark.crawl.simulator import simulate_crawl

        rows = self.pages.select("url", "html", "content_type").collect()
        pages = {r["url"]: (bytes(r["html"]), r["content_type"]) for r in rows}
        sim = simulate_crawl(pages, self.seeds, self.config(), max_waves=n_waves)
        final = [
            (u, s, sim.texts.get(u) if s == "ok" else None) for u, s in sim.statuses.items()
        ]
        df = spark.createDataFrame(final, "url string, status string, text string")
        return {
            "waves": [{k: c[k] for k in _WAVE_KEYS} for c in sim.wave_counts],
            "fold": fold_hash(df),
        }

    def check(self, spark, ops: list[Op]) -> None:
        """A mismatch in a wave's counts fails that wave; a mismatch in
        the final results fails every wave."""
        by_wave = {op.out.wave: op for op in ops if op.out is not None}

        def fail(wave, why):
            for op in [by_wave[wave]] if wave in by_wave else ops:
                if op.ok:
                    op.ok, op.error = False, why

        seen_prev = 0
        for m in self.metrics:
            if m.n_scheduled != m.n_ok + m.n_missing_retry + m.n_failed + m.n_too_large:
                fail(m.wave, "n_scheduled != ok + retry + failed + too_large")
            if m.n_seen_out < seen_prev:
                fail(m.wave, "n_seen_out decreased")
            seen_prev = m.n_seen_out
        got = self.engine_outputs()
        want = self.simulated_outputs(spark, len(self.metrics))
        pinned = load_pins().get("crawl", {}).get(str(self.seed))
        for ref_name, ref in (("simulator", want), ("pin", pinned)):
            if ref is None:
                continue
            for m, g, r in zip(self.metrics, got["waves"], ref["waves"]):
                if g != r:
                    fail(m.wave, f"wave counts differ from {ref_name}: {g} != {r}")
            if len(ref["waves"]) != len(got["waves"]) or got["fold"] != ref["fold"]:
                fail(None, f"results fold {got['fold']} != {ref_name} {ref['fold']}")

    def pin(self, spark) -> dict:
        self.setup(spark)
        self.init_engine(spark)
        ops = self.run_pass(spark, plain)
        got = self.engine_outputs()
        want = self.simulated_outputs(spark, len(self.metrics))
        if got != want or not all(o.ok for o in ops):
            raise RuntimeError(f"engine and simulator disagree for seed {self.seed}")
        return got


WORKLOADS = {w.name: w for w in (CrawlWorkload, WebtextWorkload, AnalyticsWorkload)}
