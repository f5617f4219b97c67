"""The workloads and the program surfaces they drive.

A workload is a closed loop with one client: a fixed cycle of operations
(a *round*), repeated; the next operation starts only when the previous
one has returned. Each operation is one call of one *part*, a program
surface:

- ``Census``: ``run_census_job`` for one (table, year) — a write;
- ``Queries``: one pass of ``plans`` registry queries into the noop sink — a read;
- ``Corpus``: ``run_corpus_job`` over a seeded corpus — a write;
- ``Vectors``: ``apply_ivf_index_batch`` (a write) and
  ``ivf_topk_incremental(...).collect()`` (a read) on a live IVF index.

``census_and_queries`` interleaves Census and Queries, ``corpus_and_vectors``
Corpus and Vectors (see README.md for why two workloads carry four parts).

A part provides
- ``prepare()``: generate its seeded inputs (never timed);
- ``prep(spark)``: program-side preparation, charged to set-up;
- ``warm(spark)``: its share of the warm pass, charged to set-up;
- ``call(spark, round, key, traced)``: untimed preparation of one
  operation; returns the zero-argument callable the harness times and the
  items it processes;
- ``tracing(tracer, keep)``: a context that wraps the module-level
  functions the program's entry point calls in spans (``spans.patched``),
  so a traced operation makes exactly the untraced operation's calls;
- ``check(spark)``: output checks, ``[(name, ok, detail), ...]``;
- ``attribute(spark, tracer)``: per-layer metrics of a traced run, from its
  spans and from re-running captured frames into the noop sink.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from contextlib import nullcontext

import numpy as np

import gen
import spans


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _timed(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


def _files_under(path: str) -> tuple[int, int]:
    """(data files, bytes) under ``path``, ignoring Spark's markers."""
    n = size = 0
    for d, _, files in os.walk(path):
        for f in files:
            if f.startswith((".", "_")):
                continue
            n += 1
            size += os.path.getsize(os.path.join(d, f))
    return n, size


class Part:
    label = ""
    kind = "write"
    #: module whose functions ``tracing`` wraps, and span name per function
    module = ""
    span_names: dict[str, str] = {}

    def __init__(self, work: str, seed: int):
        self.work = os.path.join(work, type(self).__name__.lower())
        self.seed = seed
        #: set by the harness: the run's ``spans.Tracer``
        self.tracer = None
        #: per key: ``[(captured calls, spans), ...]`` of its traced operations
        self.captured: dict = {}

    def prepare(self) -> dict:
        return {}

    def prep(self, spark) -> None:
        pass

    def warm(self, spark) -> None:
        pass

    def keys(self) -> list:
        raise NotImplementedError

    def kind_of(self, key) -> str:
        return self.kind

    def label_of(self, key) -> str:
        return self.label

    def trace_modes(self, r: int, i: int, key) -> tuple[bool, ...]:
        """How a traced run runs the ``i``-th operation of round ``r``:
        traced in every other round, so each key runs both ways on
        identical work (the overhead pairs)."""
        return ((r + i) % 2 == 1,)

    def pair_key(self, r: int, key):
        """Operations with equal pair keys do identical work."""
        return key

    def tracing(self, tracer, keep: dict):
        if not self.span_names:
            return nullcontext()
        import importlib

        return spans.patched(tracer, importlib.import_module(self.module), self.span_names, keep)

    def call(self, spark, r: int, key, traced: bool):
        raise NotImplementedError

    def check(self, spark) -> list:
        return []

    def attribute(self, spark, tracer) -> dict:
        return {}

    def span_counts(self, by_span: dict) -> dict:
        """Per-layer metrics from the Spark totals of each span name."""
        return {}

    def summary(self, samples: list[dict]) -> dict:
        """This part's own end-to-end figures (``etl_rows_per_s``, ...),
        printed by name: ``{name: (value, unit, samples)}``."""
        return {}

    def read_p50(self, reads: list[dict]) -> float | None:
        """``read_p50_s`` from this part's read operations: their median
        latency; None without any."""
        return _p50(reads) if reads else None


def _rate(samples: list[dict]) -> float:
    busy = sum(s["t"] for s in samples)
    return sum(s["items"] for s in samples) / busy if busy else float("nan")


def _p50(samples: list[dict]) -> float:
    return statistics.median(s["t"] for s in samples) if samples else float("nan")


# ---------------------------------------------------------------- census

class Census(Part):
    """The reference's own job: seeded INEP-shaped CSVs through
    ``run_census_job``, one (table, year) per operation, in the job's own
    order; each round writes into a fresh ``out_root``, so a round is one
    whole job over both years."""

    label, kind = "census", "write"
    years = (2013, 2020)
    shard_rows, small_rows = 3000, 600
    module = "censo_escolar_spark.etl.job"
    span_names = {
        "load_maps": "maps.load",
        "missing_partitions": "pipeline.missing_partitions",
        "load_year_table": "census.load",
        "load_schema_sidecar": "readers.schema",
        "load_csv_with_schema": "readers.csv",
        "transform_table": "pipeline.transform",
        "union_shards": "pipeline.union",
        "write_single_file": "writers.write",
        "write_partitioned_parquet": "writers.write",
    }

    def prepare(self) -> dict:
        self.truth = gen.census_inputs(os.path.join(self.work, "in"), self.seed,
                                       years=self.years, shard_rows=self.shard_rows,
                                       small_rows=self.small_rows)
        gen.census_inputs(os.path.join(self.work, "tiny"), self.seed + 1,
                          years=self.years, shard_rows=20, small_rows=10)
        self.rows = sum(self.truth["rows"].values())
        self.out = os.path.join(self.work, "out")
        return {"census_rows": self.rows, "census_csv_bytes": self.truth["bytes"]}

    def keys(self) -> list:
        from censo_escolar_spark.etl.job import SHARDED_TABLES, SMALL_TABLES

        return [(t, y) for t in SMALL_TABLES + SHARDED_TABLES for y in self.years
                if (t, y) in self.truth["rows"]]

    def _job(self, spark, root: str, out: str, table: str, year: int) -> None:
        from censo_escolar_spark.etl.job import run_census_job

        run_census_job(spark, raw_root=os.path.join(root, "raw"),
                       sidecar_root=os.path.join(root, "sidecars"),
                       out_root=out, years=[year], tables=(table,))

    def warm(self, spark) -> None:
        # on a 20-row input: both decode paths, the SAS dates and drift
        # fix-ups (escolas 2013), a sharded union and both sink kinds
        tiny, out = os.path.join(self.work, "tiny"), os.path.join(self.work, "warm")
        for table, year in (("escolas", 2013), ("matricula", 2020)):
            self._job(spark, tiny, out, table, year)

    def call(self, spark, r: int, key, traced: bool):
        if key == self.keys()[0]:  # a round starts: fresh out_root
            shutil.rmtree(self.out, ignore_errors=True)
        table, year = key
        root = os.path.join(self.work, "in")
        return (lambda: self._job(spark, root, self.out, table, year),
                self.truth["rows"][key])

    def summary(self, samples: list[dict]) -> dict:
        return {"etl_rows_per_s": (_rate(samples), "rows/s", len(samples))}

    def attribute(self, spark, tracer) -> dict:
        """Per whole job (every (table, year) once, from its last traced
        call): ``csv_scan`` = the call's raw frames into the noop sink,
        ``decode`` = its transformed frames into noop minus the scan,
        ``write`` = its real writes minus the transformed frames into noop."""
        from censo_escolar_spark.etl.pipeline import union_shards

        def into_noop(frames) -> float:
            return _timed(lambda: _noop(frames[0] if len(frames) == 1
                                        else union_shards(frames)))

        scan = shaped = writes = plan = 0.0
        for key, runs in sorted(self.captured.items()):
            keep, sp = runs[-1]
            raws = [out for _, _, out in keep["readers.csv"]]
            shards = [out for _, _, out in keep["pipeline.transform"]]
            with tracer.span("attribute.csv_scan"):
                scan += into_noop(raws)
            with tracer.span("attribute.decode"):
                shaped += into_noop(shards)
            writes += sum(spans.durations(sp, "writers.write"))
            plan += sum(spans.durations(sp, "pipeline.transform") + spans.durations(sp, "pipeline.union"))
        files, out_bytes = _files_under(self.out)
        return {
            "readers.csv_scan_s": (scan, "s"),
            "pipeline.decode_s": (max(0.0, shaped - scan), "s"),
            "writers.write_s": (max(0.0, writes - shaped), "s"),
            "pipeline.plan_s": (plan, "s"),
            "writers.files_written": (files, "count"),
            "writers.bytes_per_input_byte": (out_bytes / self.truth["bytes"], "ratio"),
        }

    def check(self, spark) -> list:
        """The last round's sink: every (table, year) row count equals the
        generated count and the decoded NULL counts equal the planted
        misses; no unexpected year."""
        from pyspark.sql import functions as F

        results = []
        for table in gen.TABLES:
            cols = gen.CHECKED_NULLS[table]
            got = {r["NU_ANO_CENSO"]: r for r in
                   spark.read.parquet(os.path.join(self.out, table))
                   .groupBy("NU_ANO_CENSO")
                   .agg(F.count("*").alias("n"),
                        *[F.count_if(F.col(c).isNull()).alias(c) for c in cols])
                   .collect()}
            for (t, year), n in self.truth["rows"].items():
                if t != table:
                    continue
                row = got.get(year)
                results.append((f"{table}/{year}/rows", row is not None and row["n"] == n,
                                f"want {n}, got {row and row['n']}"))
                want = self.truth["nulls"][(t, year)]
                bad = {c: (want[c], row and row[c]) for c in cols
                       if row is None or row[c] != want[c]}
                results.append((f"{table}/{year}/nulls", not bad, f"(planted, got) {bad}"))
            extra = set(got) - {y for (t, y) in self.truth["rows"] if t == table}
            results.append((f"{table}/years", not extra, f"unexpected {sorted(extra)}"))
        return results


# ------------------------------------------------------------- queries

#: Batch registry queries: an aggregate, a join with a top-n, a rollup, a
#: lateral top-k and event-time sessions. No streaming-parity rows and
#: nothing that needs plans.fixtures.
QUERY_MIX = (
    "q01_pricing_summary",
    "q02_top_revenue_customers",
    "q09_rollup_flag_status",
    "q41_lateral_topk_per_nation",
    "e03_user_sessions",
)


class Queries(Part):
    """A fixed list of registry queries over seeded star-schema tables,
    each built by its registry function and run into the noop sink. One
    operation is one pass over the whole list (its time is ``query_mix_s``),
    so one read sample averages five plans of different shapes; ``passes``
    passes per round."""

    label, kind = "query", "read"
    sf = 0.01
    passes = 3

    def prepare(self) -> dict:
        self.sf_dir = os.path.join(self.work, "sf")
        rows = gen.star_tables(self.sf_dir, self.seed, self.sf)
        #: ``(query, seconds)`` of every query run in the loop
        self.latencies: list = []
        return {"query_sf": self.sf, "query_rows": sum(rows.values())}

    def prep(self, spark) -> None:
        import censo_escolar_spark.plans.events  # noqa: F401  (registers queries)
        import censo_escolar_spark.plans.relational  # noqa: F401
        from censo_escolar_spark.plans.registry import ORACLE, QUERIES

        self.queries = {n: QUERIES[n] for n in QUERY_MIX}
        self.oracle = {n: ORACLE[n] for n in QUERY_MIX}

    def warm(self, spark) -> None:
        # one pass over the loop's own input: the loop's first pass is warm
        for fn in self.queries.values():
            _noop(fn(spark, self.sf_dir))

    def keys(self) -> list:
        return [("pass", i) for i in range(self.passes)]

    def pair_key(self, r: int, key):
        return "pass"  # every pass does the same work

    def call(self, spark, r: int, key, traced: bool):
        tracer = self.tracer

        def run():
            for name, fn in self.queries.items():
                t0 = time.perf_counter()
                with tracer.span("plans.build"):
                    df = fn(spark, self.sf_dir)
                with tracer.span("plans.exec"):
                    _noop(df)
                self.latencies.append((name, time.perf_counter() - t0))
        return run, len(self.queries)

    def read_p50(self, reads: list[dict]) -> float | None:
        """The median pass time, taken query by query: the sum over the list
        of each query's median latency. The first query of a pass follows
        a census write and varies most; a per-query median drops its
        outlier instead of letting it move the whole pass."""
        by_query: dict = {}
        for name, t in self.latencies:
            by_query.setdefault(name, []).append(t)
        return sum(statistics.median(ts) for ts in by_query.values()) if reads else None

    def summary(self, samples: list[dict]) -> dict:
        per_query = [t for _, t in self.latencies]
        return {"query_mix_s": (self.read_p50(samples) or float("nan"), "s", len(samples)),
                "query_p50_s": (statistics.median(per_query) if per_query else float("nan"),
                                "s", len(per_query))}

    def attribute(self, spark, tracer) -> dict:
        """Per query: ``plans.optimize_s`` builds each query again and forces
        its executed plan without running it; build and exec from the traced
        passes' spans."""
        for fn in self.queries.values():
            df = fn(spark, self.sf_dir)
            with tracer.span("plans.optimize"):
                df._jdf.queryExecution().executedPlan()
        sp = [s for runs in self.captured.values() for _, s in runs]
        n = len(sp) * len(self.queries)
        return {
            "plans.build_s": (sum(sum(spans.durations(s, "plans.build")) for s in sp) / n, "s"),
            "plans.optimize_s": (sum(spans.durations(tracer.spans, "plans.optimize"))
                                 / len(self.queries), "s"),
            "plans.exec_s": (sum(sum(spans.durations(s, "plans.exec")) for s in sp) / n, "s"),
        }

    def span_counts(self, by_span: dict) -> dict:
        n = sum(map(len, self.captured.values())) * len(self.queries)
        build, run = by_span.get("plans.build", {}), by_span.get("plans.exec", {})
        return {
            "plans.jobs": ((build.get("jobs", 0) + run.get("jobs", 0)) / n, "count"),
            "plans.shuffle_bytes": (run.get("shuffle_bytes", 0) / n, "bytes"),
        }

    def check(self, spark) -> list:
        from censo_escolar_spark.testing import assert_matches_oracle

        results = []
        for name, fn in self.queries.items():
            try:
                assert_matches_oracle(fn(spark, self.sf_dir), self.oracle[name], self.sf_dir)
                results.append((name, True, ""))
            except AssertionError as e:
                results.append((name, False, str(e)[:300]))
        return results


# ---------------------------------------------------------------- corpus

class Corpus(Part):
    """Seeded multilingual documents through ``run_corpus_job``."""

    label, kind = "corpus", "write"
    n_docs = 1000
    module = "censo_escolar_spark.etl.corpus_job"
    span_names = {
        "spread_small_input": "corpus.spread",
        "curate": "corpus.curate",
        "corpus_dedup": "dedup",
        "audit": "corpus.audit_plan",
        "write_partitioned_parquet": "corpus.sink",
    }

    def prepare(self) -> dict:
        import pyarrow.parquet as pq

        os.makedirs(self.work, exist_ok=True)
        table, self.truth = gen.corpus_docs(self.seed, self.n_docs)
        self.src = os.path.join(self.work, "docs.parquet")
        pq.write_table(table, self.src)
        tiny, _ = gen.corpus_docs(self.seed + 1, 300)
        self.tiny = os.path.join(self.work, "tiny.parquet")
        pq.write_table(tiny, self.tiny)
        self.out = os.path.join(self.work, "out")
        return {"corpus_docs": self.n_docs, "corpus_bytes": os.path.getsize(self.src)}

    def warm(self, spark) -> None:
        from censo_escolar_spark.etl.corpus_job import run_corpus_job

        run_corpus_job(spark, self.tiny, os.path.join(self.work, "warm_out"))

    def keys(self) -> list:
        return ["job"]

    def pair_key(self, r: int, key):
        return (r, key)

    def trace_modes(self, r: int, i: int, key) -> tuple[bool, ...]:
        """One job per round: a traced run runs it twice, traced and
        untraced, in alternating order, so warm-up drift cancels."""
        return (True, False) if r % 2 else (False, True)

    def call(self, spark, r: int, key, traced: bool):
        from censo_escolar_spark.etl.corpus_job import run_corpus_job

        def run():
            self.last = run_corpus_job(spark, self.src, self.out)
        return run, self.n_docs

    def summary(self, samples: list[dict]) -> dict:
        return {"curate_docs_per_s": (_rate(samples), "docs/s", len(samples))}

    def attribute(self, spark, tracer) -> dict:
        """From the last traced job: curate, dedup and sink spans; the audit
        and the write re-run on its curated frame; cleaning alone into the
        noop sink; MinHash candidate precision (verified pairs over banded
        candidates)."""
        from censo_escolar_spark.etl.corpus_job import CorpusJobConfig, audit
        from censo_escolar_spark.functions import text as T
        from censo_escolar_spark.operators.dedup import (minhash_candidates,
                                                         minhash_pairs,
                                                         minhash_sketches)

        cfg = CorpusJobConfig()
        keep, sp = self.captured["job"][-1]
        curated = keep["corpus.sink"][-1][0][0]  # the frame the job wrote
        cleaned = keep["dedup"][-1][0][0]  # the cleaned frame dedup received
        with tracer.span("attribute.audit"):
            audit_s = _timed(lambda: audit(curated, cfg).collect())
        with tracer.span("attribute.curated_noop"):
            curated_noop = _timed(lambda: _noop(curated))
        with tracer.span("attribute.text_clean"):
            clean_s = _timed(lambda: _noop(spark.read.parquet(self.src).withColumn(
                "text", T.strip_boilerplate("text")).filter(
                T.quality_keep("text", min_tokens=cfg.min_tokens,
                               max_digit_ratio=cfg.max_digit_ratio,
                               min_avg_token_len=cfg.min_avg_token_len))))
        with tracer.span("attribute.candidates"):
            sk = minhash_sketches(cleaned, "doc_id", "text").localCheckpoint(eager=True)
            cands = minhash_candidates(sk.select("doc_id", "signature"), "doc_id",
                                       materialize=False).count()
            verified = minhash_pairs(cleaned, "doc_id", "text",
                                     threshold=cfg.dedup_threshold).count()
        sink = sum(spans.durations(sp, "corpus.sink"))
        return {
            "corpus.curate_s": (sum(spans.durations(sp, "corpus.curate")), "s"),
            "dedup.s": (sum(spans.durations(sp, "dedup")), "s"),
            "corpus.audit_s": (audit_s, "s"),
            "corpus.sink_s": (sink, "s"),
            "writers.write_s": (max(0.0, sink - curated_noop), "s"),
            "text.clean_s": (clean_s, "s"),
            "dedup.candidate_precision": (verified / cands if cands else 1.0, "ratio"),
            "corpus.kept_ratio": (self.last["curated_rows"] / self.n_docs, "ratio"),
        }

    def check(self, spark) -> list:
        summary = self.last
        back = spark.read.parquet(self.out)
        dups = back.filter(back.doc_id.isin(self.truth["exact_dup_ids"])).count()
        n = back.count()
        return [
            ("audit", all(v == 0 for v in summary["audit"].values()), str(summary["audit"])),
            ("exact_dups_gone", dups == 0, f"{dups} planted duplicates in the sink"),
            ("sink_rows", n == summary["curated_rows"],
             f"sink {n} vs summary {summary['curated_rows']}"),
            ("input_rows", summary["input_rows"] == self.n_docs, str(summary["input_rows"])),
            ("gate_applied", n <= self.n_docs - self.truth["gate_failures"],
             f"{n} kept of {self.n_docs}, {self.truth['gate_failures']} planted failures"),
        ]


# --------------------------------------------------------------- vectors

class Vectors(Part):
    """Ingest beside search on a stored IVF index. Set-up trains the
    centroids and writes the base vectors as batch 0. Each step ingests
    one batch (``apply_ivf_index_batch``) and answers ``probes_per_step``
    query batches (``ivf_topk_incremental``). The steps' batch ids end at 16, so every
    run crosses the compaction of the default cadence (``COMPACT_EVERY``
    = 16)."""

    label = "vectors"
    dim, n_base, batch, queries, k = 64, 3000, 256, 16, 10
    steps_per_round, probes_per_step = 2, 1
    checked_probes = 2
    module = "censo_escolar_spark.streaming.ivfindex"
    span_names = {
        "recover_batch_store": "ivfindex.recover",
        "ivf_assign": "similarity.assign_plan",
        "compact_batch_store": "ivfindex.compact",
        "probe_plan": "similarity.probe_plan",
        "read_ivf_index_state": "ivfindex.read_state",
        "topk_against_index": "similarity.topk_plan",
    }

    def __init__(self, work: str, seed: int, rounds: int):
        super().__init__(work, seed)
        self.steps = rounds * self.steps_per_round
        self.first_batch = 17 - self.steps

    def prepare(self) -> dict:
        self.base, self.batches, self.qs = gen.vector_stream(
            self.seed, dim=self.dim, n_base=self.n_base, n_batches=self.steps,
            batch=self.batch, queries=self.queries, probes_per_batch=self.probes_per_step)
        self.live = [(np.arange(self.n_base), self.base)]
        self.sampled: list = []
        self.store_shape: list = []
        return {"base_vectors": self.n_base, "batch": self.batch, "queries": self.queries,
                "dim": self.dim, "steps": self.steps,
                "batch_ids": [self.first_batch, self.first_batch + self.steps - 1]}

    def _df(self, spark, ids, vecs):
        return spark.createDataFrame(gen.vector_table(ids, vecs).to_pandas())

    def prep(self, spark) -> None:
        from censo_escolar_spark.operators.similarity import train_centroids
        from censo_escolar_spark.streaming.ivfindex import apply_ivf_index_batch

        base = self._df(spark, np.arange(self.n_base), self.base)
        self.centroids = train_centroids(base, n_rows=self.n_base)
        self.state = os.path.join(self.work, "state")
        apply_ivf_index_batch(base, 0, state_dir=self.state, centroids=self.centroids)

    def warm(self, spark) -> None:
        """One probe of the index (read-only); ``prep`` has already run the
        ingest path on batch 0."""
        from censo_escolar_spark.streaming.ivfindex import ivf_topk_incremental

        q = self._df(spark, -1 - np.arange(self.queries), self.qs[-1])
        ivf_topk_incremental(spark, self.state, q, self.centroids, k=self.k).collect()

    def keys(self) -> list:
        return [k for j in range(self.steps_per_round)
                for k in [("ingest", j)] + [("probe", j, m) for m in range(self.probes_per_step)]]

    def kind_of(self, key) -> str:
        return "write" if key[0] == "ingest" else "read"

    def label_of(self, key) -> str:
        return key[0]

    def pair_key(self, r: int, key):
        return (r, key)

    def trace_modes(self, r: int, i: int, key) -> tuple[bool, ...]:
        """Every ingest is traced (the compaction must be); every probe runs
        twice on the same store, traced and untraced, in alternating order."""
        if key[0] == "ingest":
            return (True,)
        return (True, False) if (r + key[1] + key[2]) % 2 else (False, True)

    def call(self, spark, r: int, key, traced: bool):
        from censo_escolar_spark.streaming.ivfindex import (apply_ivf_index_batch,
                                                            ivf_topk_incremental)

        step = r * self.steps_per_round + key[1]
        bid = self.first_batch + step
        if key[0] == "ingest":
            ids = 1_000_000 + bid * self.batch + np.arange(self.batch)
            vecs = self.batches[step]
            b = self._df(spark, ids, vecs)
            self.live.append((ids, vecs))
            return (lambda: apply_ivf_index_batch(b, bid, state_dir=self.state,
                                                  centroids=self.centroids),
                    self.batch)
        n = step * self.probes_per_step + key[2]
        qids = -(1 + n * self.queries + np.arange(self.queries))
        q = self._df(spark, qids, self.qs[n])
        if key[2] == 0 and step < self.checked_probes and len(self.sampled) <= step:
            self.sampled.append((qids, self.qs[n]))
        if traced:
            self.store_shape.append(self._store_shape())

        def run():
            rows = ivf_topk_incremental(spark, self.state, q, self.centroids,
                                        k=self.k).collect()
            if len(rows) != self.queries * self.k:
                raise RuntimeError(f"probe returned {len(rows)} rows")
        return run, self.queries

    def _store_shape(self) -> tuple[int, int]:
        """(batch partitions, data files) of the index component."""
        root = os.path.join(self.state, "index")  # the index component's directory
        parts = [d for d in os.listdir(root) if d.startswith("batch=")]
        return len(parts), _files_under(root)[0]

    def summary(self, samples: list[dict]) -> dict:
        ingest = [s for s in samples if s["label"] == "ingest"]
        probe = [s for s in samples if s["label"] == "probe"]
        return {"ingest_vectors_per_s": (_rate(ingest), "vec/s", len(ingest)),
                "ingest_p50_s": (_p50(ingest), "s", len(ingest)),
                "probe_p50_s": (_p50(probe), "s", len(probe))}

    def attribute(self, spark, tracer) -> dict:
        """Assignment alone into the noop sink; compaction, probe plan and
        state read from their spans; the top-k from its plan span plus the
        probe's collect (where the pruned scan, cell join and ranking run)."""
        from censo_escolar_spark.operators.similarity import ivf_assign

        b = self._df(spark, np.arange(self.batch), self.batches[0])
        with tracer.span("attribute.assign"):
            assign_s = _timed(lambda: _noop(ivf_assign(b, self.centroids)))
        probes = [sp for key, runs in self.captured.items() if key[0] == "probe"
                  for _, sp in runs]
        probe_spans = [s for sp in probes for s in sp]
        st = spans.self_times(probe_spans)
        n = len(probes)
        compact = [d for key, runs in self.captured.items() if key[0] == "ingest"
                   for _, sp in runs for d in spans.durations(sp, "ivfindex.compact")]
        return {
            "similarity.assign_s": (assign_s, "s"),
            "ivfindex.compact_s": (sum(compact), "s"),
            "similarity.probe_plan_s": (st.get("similarity.probe_plan", 0.0) / n, "s"),
            "ivfindex.read_state_s": (st.get("ivfindex.read_state", 0.0) / n, "s"),
            "similarity.topk_s": ((st.get("similarity.topk_plan", 0.0)
                                   + st.get("probe", 0.0)) / n, "s"),
            "ivfindex.batch_partitions": (statistics.mean(s[0] for s in self.store_shape),
                                          "count"),
            "ivfindex.store_files": (statistics.mean(s[1] for s in self.store_shape),
                                     "count"),
        }

    def check(self, spark) -> list:
        """Sampled query batches re-run with ``nprobe=None`` on the final
        index, equal to a NumPy brute-force top-k over every vector
        ingested."""
        from censo_escolar_spark.streaming.ivfindex import ivf_topk_incremental

        results = []
        for qids, qvecs in self.sampled:
            q = self._df(spark, qids, qvecs)
            rows = ivf_topk_incremental(spark, self.state, q, self.centroids, k=self.k,
                                        nprobe=None).collect()
            got = {}
            for r in rows:
                got.setdefault(r.query_id, []).append((r.rank, r.neighbor_id, r.cos))
            want = self._brute(qids, qvecs)
            ok, detail = True, ""
            for qid, exp in want.items():
                ranked = [(n, c) for _, n, c in sorted(got.get(qid, []))]
                if [n for n, _ in ranked] != [n for n, _ in exp] or not np.allclose(
                        [c for _, c in ranked], [c for _, c in exp], atol=1e-9):
                    ok, detail = False, f"query {qid}: {ranked[:3]} vs {exp[:3]}"
                    break
            results.append((f"probe_{-int(qids[0])}", ok, detail))
        return results

    def _brute(self, qids, qvecs):
        """Exact cosine top-k over every ingested vector, at the float32
        precision the index stores."""
        ids = np.concatenate([i for i, _ in self.live])
        mat = np.vstack([v for _, v in self.live]).astype(np.float32).astype(np.float64)
        q = qvecs.astype(np.float32).astype(np.float64)
        sims = (q / np.linalg.norm(q, axis=1, keepdims=True)) @ (
            mat / np.linalg.norm(mat, axis=1, keepdims=True)).T
        out = {}
        for qid, row in zip(qids, sims):
            order = np.lexsort((ids, -row))[: self.k]
            out[int(qid)] = [(int(ids[j]), float(row[j])) for j in order]
        return out


# ------------------------------------------------------------- workloads

class Workload:
    """Parts interleaved into a round."""

    name = ""
    #: typical round time on a 4-core machine; sets the round count
    nominal_round_s = 10.0

    def __init__(self, work: str, seed: int, seconds: float, traced: bool):
        self.rounds = max(1, round(seconds / self.nominal_round_s))
        if traced:  # every key runs traced in one round, untraced in another
            self.rounds = max(2, self.rounds)
        self.parts = self.make_parts(work, seed)

    def make_parts(self, work: str, seed: int) -> list[Part]:
        raise NotImplementedError

    def schedule(self) -> list[tuple[int, int, Part, object]]:
        """``(round, index within its part, part, key)`` in run order: in
        each round every part's operations are spread evenly over the
        round (the ``i``-th of ``n`` sits at ``(i + 0.5) / n``)."""
        slots = sorted(((i + 0.5) / len(ks), j, i, p, k)
                       for j, p in enumerate(self.parts)
                       for ks in [p.keys()] for i, k in enumerate(ks))
        return [(r, i, p, k) for r in range(self.rounds) for _, _, i, p, k in slots]


class CensusAndQueries(Workload):
    name = "census_and_queries"
    nominal_round_s = 24.0

    def make_parts(self, work, seed):
        return [Census(work, seed), Queries(work, seed)]


class CorpusAndVectors(Workload):
    name = "corpus_and_vectors"
    nominal_round_s = 12.0

    def make_parts(self, work, seed):
        return [Corpus(work, seed), Vectors(work, seed, self.rounds)]


WORKLOADS = {w.name: w for w in (CensusAndQueries, CorpusAndVectors)}
