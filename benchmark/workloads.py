"""The workloads.  Each one generates its inputs from the seed, computes the
expected output with code independent of the layers it times, runs one
timed iteration at a time, and checks every iteration's output.

Why each workload exists, its sizes, and the layers it exercises and
bypasses are in ``README.md`` beside this file.
"""

from __future__ import annotations

import importlib.util
import shutil
import time
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from crawler_spark.operators import arrow_frontier, assembly
from crawler_spark.operators import dedup as DD
from crawler_spark.plans import analytics_queries as AQ
from crawler_spark.plans import run as RUN
from crawler_spark.sources.synthweb import SynthWeb
from crawler_spark.sources.warehouse import ParquetWarehouse

ROOT = Path(__file__).resolve().parents[1]


def _load(rel: str, name: str):
    """Import a repo module that lives outside any package (tests/, tools/)."""
    spec = importlib.util.spec_from_file_location(name, ROOT / rel)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class Workload:
    """Protocol shared by the workloads; ``run.py`` drives it."""

    name = ""
    # untimed iterations before the timed ones; 0 times the first call in
    # the fresh session (see README.md)
    WARM_UP = 1
    # spark.sql.shuffle.partitions of the session, per cores
    PARTITIONS_PER_CORE = 2
    # pipelines the traced run also calls once, traced, for their layers
    TRACE_ALSO: tuple[type[Workload], ...] = ()

    def __init__(self, seed: int, workdir: Path):
        self.seed = seed
        self.workdir = workdir

    def prepare(self, spark: SparkSession) -> None:
        """Generate the inputs (idempotent; timed as set-up)."""

    def expect(self, spark: SparkSession) -> None:
        """Compute the expected output once (timed as set-up)."""

    def iterate(self, spark: SparkSession):
        """One timed iteration; returns what ``check`` needs."""
        raise NotImplementedError

    def items(self, result) -> int:
        raise NotImplementedError

    def check(self, result) -> str | None:
        """None when the output is right, else what is wrong."""
        raise NotImplementedError

    def layer_counts(self, result) -> dict[str, float]:
        """Layer-specific counts read from the output, outside timing."""
        return {}

    def trace(self, tracer) -> None:
        """Wrap this workload's layer functions in spans."""

    def release(self, result, spark: SparkSession) -> None:
        """Drop the iteration's state so the next one starts fresh."""


# ---------------------------------------------------------------------------
# corpus_assembly (traced runs only)
# ---------------------------------------------------------------------------


class CorpusAssembly(Workload):
    """The registry's training-mix pipeline over a generated documents table."""

    N_DOCS = 500
    N_SOURCES = 20
    MIN_TOKENS, MAX_TOKENS = 10, 100
    # 30 short words, so 3-shingles recur within a source block and the
    # near-dup join has real candidate pairs to score
    VOCAB = (
        "a the big small fast slow data row column table query join hash sort "
        "merge scan filter group agg order key value stream batch window line "
        "part customer spark vector"
    ).split()

    def prepare(self, spark):
        rng = np.random.default_rng(self.seed)
        n_tok = rng.integers(self.MIN_TOKENS, self.MAX_TOKENS + 1, self.N_DOCS)
        words = np.asarray(self.VOCAB)[rng.integers(0, len(self.VOCAB), n_tok.sum())]
        bounds = np.r_[0, np.cumsum(n_tok)]
        texts = [" ".join(words[a:b]) for a, b in zip(bounds[:-1], bounds[1:])]
        ids = np.arange(self.N_DOCS, dtype=np.int64)
        sf = self.workdir / "corpus"
        sf.mkdir(parents=True, exist_ok=True)
        # the columns q_corpus_assembly reads from the documents table
        pq.write_table(
            pa.table({
                "doc_id": ids,
                "text": texts,
                "source": [f"src{i % self.N_SOURCES}" for i in ids],
            }),
            sf / "documents.parquet",
        )
        self.sf_dir = str(sf)

    def expect(self, spark):
        import duckdb

        con = duckdb.connect()
        try:
            con.execute("SET threads = 4")
            path = f"{self.sf_dir}/documents.parquet".replace("'", "''")
            con.execute(
                f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}')"
            )
            cur = con.execute(AQ.SQL_CORPUS_ASSEMBLY)
            cols = [d[0] for d in cur.description]
            rows = cur.fetchall()
        finally:
            con.close()
        self._hash = _load("tools/check_oracle.py", "check_oracle").value_hash
        self.expected = (len(rows), self._hash(cols, rows))

    def iterate(self, spark):
        df = AQ.q_corpus_assembly(spark, self.sf_dir)
        return df.columns, [tuple(r) for r in df.collect()]

    def items(self, result):
        return self.N_DOCS

    def check(self, result):
        cols, rows = result
        got = (len(rows), self._hash(cols, rows))
        if got != self.expected:
            return f"{got[0]} chunks, hash {got[1]}; oracle {self.expected}"
        return None

    def trace(self, tracer):
        tracer.wrap(DD, "exact_dup_groups", "dedup.exact")
        tracer.wrap(DD, "ngram_jaccard_pairs", "dedup.near")
        # q_corpus_assembly imports these from operators.assembly per call
        tracer.wrap(assembly, "hashed_linear_score", "assembly.score")
        tracer.wrap(assembly, "calibrated_quality_gate", "assembly.gate")
        tracer.wrap(assembly, "assign_split", "assembly.mix")
        tracer.wrap(assembly, "source_mix_weights", "assembly.mix")
        tracer.wrap(assembly, "chunk_documents", "assembly.chunk")
        tracer.wrap(AQ, "q_corpus_assembly", "analytics.self", enclosing=True)

    def release(self, result, spark):
        # q_corpus_assembly persists its stage outputs; a second call would
        # reuse them through the cache manager and time a cache hit
        spark.catalog.clearCache()


# ---------------------------------------------------------------------------
# frontier_hot
# ---------------------------------------------------------------------------


class FrontierHot(Workload):
    """Keyed dequeue of a URL batch with one host holding half the rows."""

    name = "frontier_hot"
    WARM_UP = 6  # iterations keep getting faster through about the fifth
    # corpus_assembly costs ~12-20 s a call, which a full evaluation's time
    # budget does not hold as a third timed workload; its layers are traced here
    TRACE_ALSO = (CorpusAssembly,)
    N_URLS = 400_000
    DUP_SHARE = 0.10  # rows whose URL repeats an earlier row of the batch
    URLS_PER_HOST = 1_000
    HOT_PCT = 50  # share of keys on the hot host (host 0)
    BUDGET = 10_000
    BUCKETS = 128
    DELAY_MS = 200
    PARTS = 8

    def __init__(self, seed: int, workdir: Path):
        super().__init__(seed, workdir)
        self.key_space = int(self.N_URLS * (1 - self.DUP_SHARE))
        self.n_hosts = self.N_URLS // self.URLS_PER_HOST

    def _host(self):
        # hot membership and the seen predicate are independent draws, so
        # the hot host keeps half its keys novel and the budget binds
        hot = F.pmod(F.xxhash64(F.lit(f"{self.seed}/hot"), "k"), F.lit(100))
        spread = F.pmod(
            F.xxhash64(F.lit(f"{self.seed}/host"), "k"), F.lit(self.n_hosts - 1)
        ) + 1
        return F.when(hot < self.HOT_PCT, F.lit(0)).otherwise(spread)

    def _seen(self):
        return F.pmod(F.xxhash64(F.lit(f"{self.seed}/seen"), "k"), F.lit(2)) == 0

    def _urls(self, keys):
        return keys.select(
            F.concat(
                F.lit("HTTP://Host-"), self._host().cast("string"),
                F.lit(".Test:80/p/"), F.col("k").cast("string"),
                F.lit("#frag"),
            ).alias("url")
        )

    def prepare(self, spark):
        keys = spark.range(0, self.N_URLS, 1, self.PARTS).select(
            (F.col("id") % self.key_space).alias("k")
        )
        self._urls(keys).write.mode("overwrite").parquet(
            str(self.workdir / "frontier_urls")
        )
        seen_keys = spark.range(0, self.key_space, 1, self.PARTS).select(
            F.col("id").alias("k")
        ).filter(self._seen())
        arrow_frontier.canonicalize_stage(self._urls(seen_keys)).select(
            "url_hash", F.xxhash64("host").alias("host_hash")
        ).write.mode("overwrite").parquet(str(self.workdir / "seen_keys"))

    def expect(self, spark):
        # every key of [0, key_space) is in the batch; the novel ones are the
        # unseen; each host dequeues min(novel, budget) of them
        per_host = (
            spark.range(0, self.key_space).select(F.col("id").alias("k"))
            .filter(~self._seen())
            .select(self._host().alias("h"))
            .groupBy("h").count()
            .select(
                F.xxhash64(F.concat(F.lit("host-"), F.col("h").cast("string"),
                                    F.lit(".test"))).alias("host_hash"),
                F.least("count", F.lit(self.BUDGET)).alias("n"),
            )
            .collect()
        )
        self.expected = {r.host_hash: r.n for r in per_host}

    def iterate(self, spark):
        urls = spark.read.parquet(str(self.workdir / "frontier_urls"))
        keyed = arrow_frontier.canonicalize_stage(urls).select(
            "url_hash", F.xxhash64("host").alias("host_hash")
        )
        seen = spark.read.parquet(str(self.workdir / "seen_keys"))
        out = arrow_frontier.dequeue_keys(
            keyed, seen, budget_per_host=self.BUDGET,
            num_buckets=self.BUCKETS, min_delay_ms=self.DELAY_MS,
        )
        rows = out.groupBy("host_hash").agg(
            F.count("*").alias("n"),
            F.min("rank").alias("rank_min"),
            F.max("rank").alias("rank_max"),
            F.sum("rank").alias("rank_sum"),
            F.sum(
                (F.col("sched_offset_ms")
                 != (F.col("rank") - 1) * self.DELAY_MS).cast("int")
            ).alias("bad_offsets"),
        ).collect()
        return {r.host_hash: r for r in rows}

    def items(self, result):
        return self.N_URLS

    def check(self, result):
        got = {h: r.n for h, r in result.items()}
        if got != self.expected:
            return (f"dequeued {sum(got.values())} rows over {len(got)} hosts,"
                    f" expected {sum(self.expected.values())} over"
                    f" {len(self.expected)}")
        for h, r in result.items():
            # ranks are exactly 1..n, within budget, spaced by the delay
            if (r.rank_min != 1 or r.rank_max != r.n or r.n > self.BUDGET
                    or r.rank_sum != r.n * (r.n + 1) // 2 or r.bad_offsets):
                return f"host {h}: bad ranks or schedule {r}"
        return None

    def layer_counts(self, result):
        out = sum(r.n for r in result.values())
        return {"arrow_frontier.dequeue.out_per_in": out / self.N_URLS}

    def trace(self, tracer):
        tracer.wrap(arrow_frontier, "canonicalize_stage",
                    "arrow_frontier.canonicalize")
        tracer.wrap(arrow_frontier, "dequeue_keys", "arrow_frontier.dequeue")


# ---------------------------------------------------------------------------
# crawl_2gen
# ---------------------------------------------------------------------------


class Crawl2Gen(Workload):
    """Two generations of the synthetic-web crawl from an empty warehouse."""

    name = "crawl_2gen"
    WARM_UP = 0
    PARTITIONS_PER_CORE = 1  # as the crawl CLI builds its session
    N_JUDGES = 4
    N_PIDS = 60
    LIMIT = 20
    BUCKETS = 16
    GENERATIONS = 2

    def __init__(self, seed: int, workdir: Path):
        super().__init__(seed, workdir)
        self._iteration = 0

    def prepare(self, spark):
        self.web = SynthWeb.default(n_judges=self.N_JUDGES, n_pids=self.N_PIDS)
        self.web.seed = f"synthweb-{self.seed}"

    def expect(self, spark):
        ref = _load("tests/reference_impl.py", "reference_impl")
        out = ref.reference_crawl(self.web, self.GENERATIONS, self.LIMIT)
        self.expected_seen = out["seen"]
        self.expected_problems = {
            k: (v["status"], v.get("title"), v.get("description"))
            for k, v in out["problems"].items()
        }

    def iterate(self, spark):
        self._iteration += 1
        wh = ParquetWarehouse(str(self.workdir / f"wh{self._iteration}"), spark)
        sc = spark.sparkContext
        gens = []
        for g in range(self.GENERATIONS):
            # a job group per generation lets the event log count its jobs
            group = f"bench-gen-{self._iteration}-{g}"
            sc.setJobGroup(group, f"generation {g}")
            t0 = time.perf_counter()
            m = RUN.run_generation(spark, wh, self.web, g, limit=self.LIMIT,
                                   num_buckets=self.BUCKETS)
            gens.append((time.perf_counter() - t0, m, group))
        sc.setLocalProperty("spark.jobGroup.id", None)
        return wh.root, gens

    def items(self, result):
        return sum(m["fetches"] for _, m, _ in result[1])

    def check(self, result):
        root, _ = result
        last = self.GENERATIONS - 1
        seen = pq.read_table(root / "url_seen" / f"gen={last}").to_pylist()
        got_seen = {(r["judge"], r["pid"]): r["title"] for r in seen}
        if got_seen != self.expected_seen:
            bad = got_seen.items() ^ self.expected_seen.items()
            return f"url_seen differs from the reference in {len(bad)} entries"
        got = {}
        for g in range(self.GENERATIONS):
            for r in pq.read_table(root / "problems" / f"gen={g}").to_pylist():
                ok = r["status"] == "ok"
                got[(r["generation"], r["judge"], r["pid"])] = (
                    r["status"], r["title"] if ok else None,
                    r["description"] if ok else None,
                )
        if got != self.expected_problems:
            bad = sorted(k for k in got.keys() | self.expected_problems.keys()
                         if got.get(k) != self.expected_problems.get(k))
            return f"{len(bad)} problem rows differ from the reference, e.g. {bad[:3]}"
        return None

    def layer_counts(self, result):
        root, gens = result
        log = pa.concat_tables(
            pq.read_table(root / "fetch_log" / f"gen={g}",
                          columns=["status", "attempts"])
            for g in range(self.GENERATIONS)
        )
        attempts = int(pc.sum(log["attempts"]).as_py())
        ok = int(pc.sum(pc.equal(log["status"], "ok")).as_py())
        imgs = pa.concat_tables(
            pq.read_table(root / "images" / f"gen={g}", columns=["w"])
            for g in range(self.GENERATIONS)
        )
        decoded = int(pc.sum(pc.greater(imgs["w"], 0)).as_py())
        files = [p for p in root.rglob("*") if p.is_file()]
        staged_rows = sum(
            pq.ParquetFile(p).metadata.num_rows
            for p in files if p.suffix == ".parquet"
        )
        return {
            "fetch.requests": log.num_rows,
            "fetch.attempts": attempts,
            "fetch.ok_per_attempt": ok / attempts,
            "images.decode_ok_ratio": decoded / max(imgs.num_rows, 1),
            "warehouse.bytes_written_mb": sum(p.stat().st_size for p in files) / 2**20,
            "warehouse.files_written": len(files),
            "warehouse.stage.rows_out": staged_rows,
            "crawl.gen_cold_s": gens[0][0],
            "crawl.gen_recrawl_s": gens[1][0],
            "job_groups": [group for _, _, group in gens],
        }

    def trace(self, tracer):
        for attr, span in (
            ("apply_robots", "politeness"),
            ("parse_robots", "politeness"),
            ("next_host_state", "politeness"),
            ("fetch_stage", "fetch"),
            ("parse_listing", "parse"),
            ("extract_max_page", "parse"),
            ("parse_problem", "parse"),
            ("select_generation", "frontier.select"),
            ("extract_image_links", "images.extract"),
            ("dedupe_assets", "images.extract"),
            ("decode_assets", "images.decode"),
            ("rewrite_descriptions", "images.rewrite"),
        ):
            tracer.wrap(RUN, attr, span)
        # stage_snapshot writes through stage_append, so one wrap covers both
        tracer.wrap(ParquetWarehouse, "stage_append", "warehouse.stage")
        tracer.wrap(ParquetWarehouse, "commit", "warehouse.commit")
        tracer.wrap(RUN, "run_generation", "run.self", enclosing=True)

    def release(self, result, spark):
        shutil.rmtree(result[0], ignore_errors=True)


WORKLOADS = {w.name: w for w in (FrontierHot, Crawl2Gen)}
