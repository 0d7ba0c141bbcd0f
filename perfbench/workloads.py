"""The four workloads: the reference's ingest job, its incremental refresh,
the chatbot's top-k read path, and corpus curation.

Each workload drives only the public entry points of the package. The
runner calls ``setup`` several times (timed as ``setup_s``), ``prepare``
once (expected values and one discarded warm-up op), then ``before_op``
(untimed) / ``op`` (timed) / ``check`` (untimed) in a closed loop with one
client. ``check`` returns the problems it found; any problem fails the op.
"""

from __future__ import annotations

import json
import os
import shutil
import time

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from perfbench import corpus, reference
from vectordb_data_ingestion_spark.collection import VectorCollection
from vectordb_data_ingestion_spark.operators import dedup as dd
from vectordb_data_ingestion_spark.operators.catalog import find_new_and_updated
from vectordb_data_ingestion_spark.operators.chunk_pipeline import build_chunk_table
from vectordb_data_ingestion_spark.operators.enrichment import (
    deterministic_fake_transport,
    embed_via_api,
)
from vectordb_data_ingestion_spark.sinks.commit_store import FileConditionalStore
from vectordb_data_ingestion_spark.sinks.manifest_sink import ManifestVectorSink
from vectordb_data_ingestion_spark.sources.files import (
    parse_bytes,
    parse_documents,
    read_binary_catalog,
)

DIM = 64
CHUNK_SIZE = 128
GATEWAY_LATENCY_S = 0.02  # one LLM-gateway round trip per embed request
CERTAINTY = 0.9  # cfg.toml top_by_certainty


def gateway_transport(counters: dict | None = None):
    """The fake embedding transport behind a fixed per-request sleep. With
    ``counters`` (Spark accumulators) it also counts requests, texts,
    seconds waited and failed calls (which the operator retries)."""
    inner = deterministic_fake_transport(dim=DIM)

    def factory():
        embed = inner()

        def call(texts):
            t0 = time.perf_counter()
            time.sleep(GATEWAY_LATENCY_S)
            try:
                return embed(texts)
            except Exception:
                if counters:
                    counters["retries"].add(1)
                raise
            finally:
                if counters:
                    counters["requests"].add(1)
                    counters["texts"].add(len(texts))
                    counters["wait"].add(time.perf_counter() - t0)

        return call

    return factory


class CountingStore:
    """Conditional store wrapper counting manifest commits and lost CAS
    races, and keeping the last committed manifest's segment count."""

    MANIFEST = "MANIFEST"

    def __init__(self, inner):
        self.inner = inner
        self.commits = 0
        self.cas_retries = 0
        self.segments = 0

    def get(self, key):
        return self.inner.get(key)

    def put_if(self, key, data, token):
        ok = self.inner.put_if(key, data, token)
        if key == self.MANIFEST:
            if ok:
                self.commits += 1
                self.segments = sum(
                    1 for s in json.loads(data).get("segments", [])
                    if s.get("full") or s.get("files")
                )
            else:
                self.cas_retries += 1
        return ok

    def delete_if(self, key, token):
        return self.inner.delete_if(key, token)


def _files_under(path: str) -> dict[str, int]:
    return {
        os.path.join(d, n): os.path.getsize(os.path.join(d, n))
        for d, _, names in os.walk(path) for n in names
        if n.endswith(".parquet")
    }


def visible_files(sink: ManifestVectorSink) -> list[str]:
    """The parquet files the sink's current state reads."""
    return sorted(p.replace("file://", "", 1) for p in sink.read().inputFiles())


def sink_rows(sink: ManifestVectorSink, columns: list[str]) -> pa.Table:
    """The sink's visible rows, read with pyarrow (no Spark job)."""
    return pa.concat_tables(
        [pq.read_table(f, columns=columns) for f in visible_files(sink)]
    )


def stored_bytes_per_row(sink: ManifestVectorSink) -> float:
    """Bytes of the files the sink's current state reads, per live row."""
    files = visible_files(sink)
    rows = sum(pq.ParquetFile(f).metadata.num_rows for f in files)
    return sum(os.path.getsize(f) for f in files) / max(rows, 1)


class Workload:
    name = ""
    cycle = 1  # the runner stops measuring only after whole cycles of ops
    # untimed ops before measuring: op times still fall over the first few
    # ops of a fresh session (JIT, Python workers), which the tail would show
    warmup = 3

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.tr = ctx.tracer
        self.work = os.path.join(ctx.workdir, self.name)
        os.makedirs(self.work, exist_ok=True)
        self.extras: dict[str, float] = {}

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def setup(self, rep: int) -> None:
        raise NotImplementedError

    def prepare(self) -> None:
        """Expected values, then the untimed, checked warm-up ops."""
        for i in range(-self.warmup, 0):
            self.before_op(i)
            self.op(i)
            problems = self.check(i)
            if problems:
                raise RuntimeError(f"warm-up op failed its check: {problems}")

    def before_op(self, i: int) -> None:
        pass

    def op(self, i: int) -> None:
        raise NotImplementedError

    def check(self, i: int) -> list[str]:
        return []

    def docs_per_op(self, i: int) -> int:
        raise NotImplementedError

    # -- the ingest spine shared by ingest_full and refresh_delta ----------

    def new_sink(self, path: str) -> ManifestVectorSink:
        """The sink, over a counting store when traced."""
        store = None
        if self.tr.enabled:
            store = CountingStore(FileConditionalStore(os.path.join(path, "_ctrl")))
        return ManifestVectorSink(self.spark, path, partition_col=None, store=store)

    def transport(self):
        if not self.tr.enabled:
            return gateway_transport()
        if not hasattr(self, "_acc"):
            sc = self.spark.sparkContext
            self._acc = {
                "requests": sc.accumulator(0), "texts": sc.accumulator(0),
                "wait": sc.accumulator(0.0), "retries": sc.accumulator(0),
            }
        return gateway_transport(self._acc)

    def ingest(self, catalog, sink: ManifestVectorSink) -> None:
        """Parse -> chunk -> embed -> upsert; lazy and fused untraced."""
        tr = self.tr
        with tr.span("sources.parse_s"):
            parsed = tr.boundary(parse_documents(catalog))
        if tr.enabled:
            n, nulls = parsed.agg(
                F.count("*"), F.count_if(F.col("text").isNull())
            ).first()
            tr.ratio("sources.parse_null_ratio", nulls / max(n, 1))
        docs = (
            parsed.filter(F.col("text").isNotNull())
            .select("url", "name", "text")
            .withColumn("doc_id", F.abs(F.hash("url")).cast("long"))
        )
        with tr.span("chunk.s"):
            chunks = tr.boundary(
                build_chunk_table(
                    docs, chunk_size=CHUNK_SIZE, overlap_fraction=0.25,
                    kb_prefix=True, title_col="name",
                ).select("url", "doc_id", "chunk_index", "chunk_id",
                         "chunk_text", "n_tokens")
            )
        if tr.enabled:
            row = chunks.agg(F.count("*"), F.sum("n_tokens")).first()
            tr.count("chunk.chunks", row[0])
            tr.count("chunk.tokens", row[1] or 0)
        with tr.span("embed.s"):
            embedded = tr.boundary(
                embed_via_api(chunks, self.transport(), expected_dim=DIM)
            )
        before = _files_under(sink.base_path) if tr.enabled else {}
        with tr.span("sink.upsert_s"):
            sink.upsert(embedded)
        if tr.enabled:
            after = _files_under(sink.base_path)
            tr.count("sink.bytes_written",
                     sum(s for p, s in after.items() if p not in before))

    def scan(self, src: str):
        with self.tr.span("sources.scan_s"):
            catalog = self.tr.boundary(read_binary_catalog(self.spark, src + "/**"))
        if self.tr.enabled:
            self.tr.count("sources.files", catalog.count())
        return catalog

    def finish_sink_trace(self, sink: ManifestVectorSink) -> None:
        if self.tr.enabled and isinstance(sink.store, CountingStore):
            self.tr.count("sink.commits", sink.store.commits)
            self.tr.count("sink.cas_retries", sink.store.cas_retries)
            self.tr.count("sink.segments", sink.store.segments)

    def finish(self) -> None:
        """Run-level figures, after the last op: the last sink's stored
        bytes per row, and the embed accumulators of the traced ops."""
        sink = getattr(self, "sink", None)
        if sink is not None:
            self.extras["stored_bytes_per_row"] = stored_bytes_per_row(sink)
            self.tr.ratio("sink.stored_bytes_per_row", self.extras["stored_bytes_per_row"])
        acc = getattr(self, "_acc", None)
        if acc is not None:
            self.tr.count("embed.requests", acc["requests"].value)
            self.tr.count("embed.gateway_wait_s", acc["wait"].value)
            self.tr.count("embed.retries", acc["retries"].value)
            if acc["requests"].value:
                self.tr.ratio("embed.texts_per_request",
                              acc["texts"].value / acc["requests"].value)


class IngestFull(Workload):
    """Files on disk -> parsed -> chunked -> embedded -> a fresh sink."""

    name = "ingest_full"

    def __init__(self, ctx):
        super().__init__(ctx)
        self.n_files = 10 if ctx.smoke else 100
        self.n_words = (50, 150) if ctx.smoke else (200, 800)
        self.src = self.path("src")

    def setup(self, rep: int) -> None:
        shutil.rmtree(self.src, ignore_errors=True)
        self.files = corpus.write_file_corpus(
            self.src, self.ctx.seed, self.n_files, self.n_words
        )

    def prepare(self) -> None:
        texts = []
        for path in self.files:
            with open(path, "rb") as fh:
                texts.append(parse_bytes(fh.read(), path.rsplit(".", 1)[1]))
        self.expected_chunks = reference.expected_chunks(texts, CHUNK_SIZE)
        self.chunks_done = 0
        super().prepare()

    def sink_path(self, i: int) -> str:
        return self.path(f"sink{i}")

    def before_op(self, i: int) -> None:
        # keep only the latest sink (its size is reported at the end)
        shutil.rmtree(self.sink_path(i - 1), ignore_errors=True)

    def op(self, i: int) -> None:
        self.sink = self.new_sink(self.sink_path(i))
        self.ingest(self.scan(self.src), self.sink)
        self.finish_sink_trace(self.sink)

    def check(self, i: int) -> list[str]:
        t = sink_rows(self.sink, ["chunk_id", "vector"])
        dims = set(pc.list_value_length(t["vector"]).to_pylist())
        problems = []
        if t.num_rows != self.expected_chunks:
            problems.append(f"{t.num_rows} rows for {self.expected_chunks} chunks")
        if len(set(t["chunk_id"].to_pylist())) != t.num_rows:
            problems.append("chunk_id is not unique")
        if dims != {DIM}:
            problems.append(f"vector dims {sorted(dims)}")
        if i >= 0:
            self.chunks_done += t.num_rows
        return problems

    def docs_per_op(self, i: int) -> int:
        return self.n_files


class RefreshDelta(Workload):
    """One incremental refresh of a loaded sink: rescan, diff against the
    previous catalog, predicate delete, re-ingest only the delta."""

    name = "refresh_delta"

    def __init__(self, ctx):
        super().__init__(ctx)
        self.n_files = 20 if ctx.smoke else 150
        self.share = 0.1 if ctx.smoke else 0.02
        self.n_words = (50, 150) if ctx.smoke else (200, 800)
        self.src, self.sink_dir = self.path("src"), self.path("sink")

    def setup(self, rep: int) -> None:
        for d in (self.src, self.sink_dir):
            shutil.rmtree(d, ignore_errors=True)
        corpus.write_file_corpus(self.src, self.ctx.seed, self.n_files, self.n_words)
        catalog = read_binary_catalog(self.spark, self.src + "/**")
        self.ingest(catalog, ManifestVectorSink(self.spark, self.sink_dir, partition_col=None))
        self.old_catalog = catalog.select("name", "url", "modified_dt").localCheckpoint()

    def prepare(self) -> None:
        for d in (self.src, self.sink_dir):
            shutil.copytree(d, d + ".loaded")
        self.baseline = self.rows_by_url()
        self.chunks_done = 0
        self.revision = 0
        super().prepare()

    def rows_by_url(self) -> dict[str, list[tuple]]:
        sink = ManifestVectorSink(self.spark, self.sink_dir, partition_col=None)
        out: dict[str, list[tuple]] = {}
        for r in sink_rows(
            sink, ["url", "chunk_index", "chunk_id", "chunk_text", "vector"]
        ).to_pylist():
            out.setdefault(r["url"], []).append(
                (r["chunk_index"], r["chunk_id"], r["chunk_text"], tuple(r["vector"]))
            )
        return {u: sorted(v) for u, v in out.items()}

    def before_op(self, i: int) -> None:
        """Back to the loaded state, then touch this op's seeded delta."""
        for d in (self.src, self.sink_dir):
            shutil.rmtree(d)
            shutil.copytree(d + ".loaded", d)
        self.revision += 1
        self.modified, self.added = corpus.touch_delta(
            self.src, self.ctx.seed, self.n_files, self.share, self.revision,
            self.n_words,
        )

    def op(self, i: int) -> None:
        tr = self.tr
        sink = self.new_sink(self.sink_dir)
        catalog = self.scan(self.src)
        with tr.span("catalog.diff_s"):
            delta_urls = [
                r["url"] for r in find_new_and_updated(
                    catalog.select("name", "url", "modified_dt"), self.old_catalog
                ).select("url").collect()
            ]
        tr.count("catalog.delta_files", len(delta_urls))
        if tr.enabled:
            rows_before = sink.read().count()
            files_before = _files_under(self.sink_dir)
        with tr.span("sink.delete_s"):
            sink.delete_where("url", delta_urls)
        if tr.enabled:
            new = [p for p in _files_under(self.sink_dir) if p not in files_before]
            rewritten = self.spark.read.parquet(*new).count() if new else 0
            deleted = rows_before - sink.read().count()
            tr.ratio("sink.rows_rewritten_per_row_deleted", rewritten / max(deleted, 1))
        self.ingest(catalog.filter(F.col("url").isin(delta_urls)), sink)
        self.finish_sink_trace(sink)
        self.sink = sink

    def check(self, i: int) -> list[str]:
        rows = self.rows_by_url()
        problems = []
        touched = set(self.modified) | set(self.added)
        names = {u.rsplit("/", 1)[-1]: u for u in rows}
        marker, old = f"rev{self.revision:04d}", "rev0000"
        for url, base in self.baseline.items():
            if url.rsplit("/", 1)[-1] not in touched and rows.get(url) != base:
                problems.append(f"untouched {url} changed")
        for name in touched:
            got = rows.get(names.get(name, ""), [])
            texts = " ".join(r[2] for r in got)
            if marker not in texts or old in texts:
                problems.append(f"{name} does not carry revision {self.revision}")
        extra = set(names) - touched - {u.rsplit("/", 1)[-1] for u in self.baseline}
        if extra:
            problems.append(f"unexpected files {sorted(extra)}")
        if i >= 0:
            self.chunks_done += sum(len(rows.get(names.get(n, ""), [])) for n in touched)
        return problems

    def docs_per_op(self, i: int) -> int:
        return len(self.modified) + len(self.added)


# 60% near_vector, 20% retrieve_context, 20% hybrid: the runner measures
# whole cycles of this mix, so every run sees it exactly
QUERY_MIX = ("near", "near", "context", "near", "hybrid")


class RetrieveTopk(Workload):
    """Top-k reads through the query facade over a committed vector sink."""

    name = "retrieve_topk"
    cycle = len(QUERY_MIX)  # warm-up: the mix's last three (context, near, hybrid)

    def __init__(self, ctx):
        super().__init__(ctx)
        self.n_rows = 2_000 if ctx.smoke else 10_000
        self.sink_dir = self.path("sink")
        self.max_tokens = 30  # two 12-token chunks fit, a third does not

    def setup(self, rep: int) -> None:
        shutil.rmtree(self.sink_dir, ignore_errors=True)
        ids, vecs, texts, n_tokens = corpus.vector_corpus(self.ctx.seed, self.n_rows, DIM)
        self.data = (ids, vecs, texts, n_tokens)
        pdf = pd.DataFrame({
            "chunk_id": ids, "chunk_text": texts, "n_tokens": n_tokens,
            "vector": list(vecs),
        })
        sink = ManifestVectorSink(self.spark, self.sink_dir, partition_col=None)
        # four commits -> four segments the read path unions
        for part in np.array_split(np.arange(len(pdf)), 4):
            sink.upsert(self.spark.createDataFrame(
                pdf.iloc[part],
                "chunk_id long, chunk_text string, n_tokens int, vector array<float>",
            ))

    def prepare(self) -> None:
        self.ref = reference.VectorReference(*self.data)
        self.expected = self.found = 0
        super().prepare()

    def before_op(self, i: int) -> None:
        rng = np.random.default_rng([self.ctx.seed, i + self.warmup])
        self.kind = QUERY_MIX[i % len(QUERY_MIX)]
        ids, vecs, texts, _ = self.data
        if i % 2 == 0:  # a stored vector plus noise: the threshold admits it
            r = int(rng.integers(len(ids)))
            self.q = (vecs[r] + 0.1 * rng.standard_normal(DIM)).tolist()
            self.terms = texts[r].split()[:2]
        else:  # a random direction: the threshold rejects every row
            self.q = rng.standard_normal(DIM).tolist()
            self.terms = [corpus.VOCAB[int(j)] for j in rng.integers(0, len(corpus.VOCAB), 2)]

    def op(self, i: int) -> None:
        tr = self.tr
        sink = self.new_sink(self.sink_dir)
        with tr.span("sink.read_s"):
            corpus_df = tr.boundary(sink.read())
        col = VectorCollection(corpus_df, id_col="chunk_id", text_col="chunk_text",
                               vec_col="vector", certainty=CERTAINTY)
        if self.kind == "near":
            with tr.span("search.near_vector_s"):
                self.result = [(r["chunk_id"], r["certainty"])
                               for r in col.near_vector(self.q, k=3).collect()]
        elif self.kind == "context":
            with tr.span("search.context_s"):
                self.result = [tuple(r) for r in col.retrieve_context(
                    self.q, k=3, max_tokens=self.max_tokens).collect()]
        else:
            with tr.span("search.hybrid_s"):
                self.result = [r["chunk_id"] for r in col.hybrid(
                    " ".join(self.terms), self.q, k=10).orderBy("rank").collect()]
        tr.count("search.hits", len(self.result))
        self.sink = sink

    def check(self, i: int) -> list[str]:
        ref = self.ref
        if self.kind == "near":
            want = ref.topk(self.q, 3, CERTAINTY)
            got = sorted(self.result, key=lambda r: (-r[1], r[0]))
            ok = [g[0] for g in got] == [w[0] for w in want] or (
                len(got) == len(want)
                and all(abs(g[1] - w[1]) <= 2e-6 for g, w in zip(got, want))
            )
            found = len({g[0] for g in got} & {w[0] for w in want})
            n_want = len(want)
        elif self.kind == "context":
            want = ref.context(self.q, 3, CERTAINTY, self.max_tokens)
            ok = (self.result[0] if self.result else None) == want
            n_want = int(want is not None)
            found = n_want if ok else 0
        else:
            want = ref.hybrid(self.terms, self.q, 10)
            ok = self.result == want
            found = len(set(self.result) & set(want))
            n_want = len(want)
        if i >= 0:
            self.expected += n_want
            self.found += found
        self.extras["recall_at_k"] = self.found / self.expected if self.expected else 1.0
        return [] if ok else [f"{self.kind} query {i}: got {self.result}"]

    def finish(self) -> None:
        super().finish()
        self.tr.ratio("search.recall_at_k", self.extras["recall_at_k"])

    def docs_per_op(self, i: int) -> int:
        return self.n_rows  # every stored chunk is scored once per query


class CurateDedup(Workload):
    """Near-duplicate clustering and exact dedup over a documents table."""

    name = "curate_dedup"
    warmup = 2

    def __init__(self, ctx):
        super().__init__(ctx)
        self.n_docs = 300 if ctx.smoke else 5_000
        self.corpus_path = self.path("corpus.parquet")

    def setup(self, rep: int) -> None:
        docs = corpus.dedup_documents(self.ctx.seed, self.n_docs)
        self.rows = docs + corpus.near_copies(docs)
        table = pa.table({
            "doc_id": pa.array([r[0] for r in self.rows], pa.int64()),
            "text": [r[1] for r in self.rows],
            "lang": [r[2] for r in self.rows],
        })
        pq.write_table(table, self.corpus_path)

    def prepare(self) -> None:
        pairs = [(d, t) for d, t, _ in self.rows]
        self.want_decisions = reference.near_dup_decisions(pairs)
        self.want_keep = reference.exact_dedup_keep(pairs)
        super().prepare()

    def op(self, i: int) -> None:
        tr = self.tr
        docs = self.spark.read.parquet(self.corpus_path)
        with tr.span("dedup.pairs_s"):
            pairs = tr.boundary(dd.minhash_lsh_pairs(
                docs, num_hashes=16, bands=4, shingle_n=3, jaccard_threshold=0.5))
        with tr.span("dedup.cc_s"):
            comp = tr.boundary(dd.connected_components(pairs))
        with tr.span("dedup.decide_s"):
            self.decisions = {
                r["doc_id"]: (r["component"], r["is_dup"])
                for r in dd.dedup_by_components(docs, comp, id_col="doc_id")
                .select("doc_id", "component", "is_dup").collect()
            }
        with tr.span("dedup.exact_s"):
            self.keep = [r[0] for r in dd.exact_dedup(docs).select("doc_id").collect()]
        if tr.enabled:
            tr.count("dedup.pairs", pairs.count())
            tr.count("dedup.components", comp.select("component").distinct().count())
            tr.ratio("dedup.dup_ratio",
                     sum(d for _, d in self.decisions.values()) / len(self.decisions))

    def check(self, i: int) -> list[str]:
        problems = []
        if self.decisions != self.want_decisions:
            bad = sum(1 for k, v in self.want_decisions.items()
                      if self.decisions.get(k) != v)
            problems.append(f"{bad} near-dup decisions differ from the reference")
        if len(self.keep) != len(set(self.keep)) or set(self.keep) != self.want_keep:
            problems.append("exact_dedup kept rows differ from the reference")
        return problems

    def docs_per_op(self, i: int) -> int:
        return len(self.rows)


WORKLOADS = {w.name: w for w in (IngestFull, RefreshDelta, RetrieveTopk, CurateDedup)}
