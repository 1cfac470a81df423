"""The three workloads. Each one generates its inputs from the seed, then
runs operations the way the program's users do, and checks every output.

An operation (``op``) is one export pass, one dedup job or one search
request; it returns an :class:`Op` whose ``errors`` list is empty when the
oracles accept the output. ``wrap`` names the program functions whose
calls the traced run records as spans, and ``probe`` measures the lazy
operators that only plan inside an operation: each is applied to a cached
input and materialised, and the time of a plain scan of that cache is
subtracted.
"""

from __future__ import annotations

import collections
import contextlib
import io
import os
import shutil
import time
from dataclasses import dataclass, field

import pyarrow.parquet as pq

import gen
import oracles


@dataclass
class Op:
    latency: float  # whole operation, s
    first_output: float  # operation start to its first output, s
    items: int  # documents or queries delivered
    items_s: float  # time that delivered them, s
    errors: list[str]  # oracle findings; empty when the output is right
    recall: float = 1.0
    extra: dict = field(default_factory=dict)


def _noop_write(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _probe(tracer, name: str, run, scan_s: float):
    with tracer.span(name) as s:
        run()
    s.attrs["probe_s"] = max(0.0, (s.end - s.start) - scan_s)
    return s


def _scan(tracer, cached) -> float:
    _noop_write(cached)  # fill the cache outside the timed scan
    with tracer.span("probe.cached_scan") as s:
        _noop_write(cached)
    return s.end - s.start


def _quiet(fn, argv: list[str]) -> int:
    """Call a CLI main with its stdout captured (the result line must stay last)."""
    with contextlib.redirect_stdout(io.StringIO()):
        return fn(argv)


class DocSink:
    """Stands in for stdout behind ``write_docset_stream``: keeps every
    write, the time spent inside writes and the time of the first document."""

    def __init__(self):
        self.chunks: list[str] = []
        self.inside = 0.0
        self.first_doc: float | None = None

    def write(self, s: str) -> None:
        t = time.perf_counter()
        if self.first_doc is None and s.startswith("\n<sphinx:document"):
            self.first_doc = t
        self.chunks.append(s)
        self.inside += time.perf_counter() - t

    def flush(self) -> None:
        pass


class Export:
    """Cassandra-shaped ``pages`` table through both docset sinks."""

    name = "export"
    table = "pages"
    warmup_ops = 3
    n_rows = 20_000
    keys = list(gen.EXPORT_KEYS)
    sql = "SELECT url, pos, body, mem, tags, ts, score, blob FROM pages"

    def __init__(self, seed: int, work: str):
        self.seed, self.work = seed, work
        self.data = os.path.join(work, "export-data")
        self.rows = gen.export_rows(seed, self.n_rows)
        gen.write_export(self.rows, self.data)
        self.expected_ids = collections.Counter(oracles.doc_id(r) for r in self.rows)

    def wrap(self, tracer) -> None:
        from cql_xmlpipe_spark.operators import xmlpipe
        from cql_xmlpipe_spark.sources import registry

        tracer.wrap(registry, "load_table", "sources.registry.load_table")
        tracer.wrap(xmlpipe, "write_docset_stream", "operators.xmlpipe.write_docset_stream")
        tracer.wrap(xmlpipe, "write_docset_scale", "operators.xmlpipe.write_docset_scale")

    def op(self, spark, i: int) -> Op:
        from cql_xmlpipe_spark.operators import xmlpipe
        from cql_xmlpipe_spark.sources import registry

        out_dir = os.path.join(self.work, f"export-files-{i}")
        sink = DocSink()
        t0 = time.perf_counter()
        registry.load_table(spark, "pages", self.data).createOrReplaceTempView("pages")
        docs = xmlpipe.xml_documents(spark.sql(self.sql), self.keys)
        n = xmlpipe.write_docset_stream(docs, sink)
        t1 = time.perf_counter()
        xmlpipe.write_docset_scale(docs, out_dir)
        t2 = time.perf_counter()

        stream = "".join(sink.chunks)
        file_docs, envelope, n_files, n_bytes = self._read_files(out_dir)
        errors = [] if n == len(self.rows) else [f"write_docset_stream returned {n}"]
        errors += oracles.check_envelope(*envelope)
        errors += oracles.check_export(stream, file_docs, self.rows, self.expected_ids, self.seed)
        shutil.rmtree(out_dir, ignore_errors=True)
        first = (sink.first_doc or t1) - t0
        self.bytes_out = sum(len(c.encode("utf-8")) for c in sink.chunks[2:-1])
        # items_s is the stream sink's part: the documents per second the
        # indexer reads; the files sink shows in the op latency
        return Op(t2 - t0, first, n, t1 - t0, errors,
                  extra=dict(sink_s=sink.inside, first_doc=sink.first_doc or t1, files=n_files, bytes=n_bytes))

    def annotate(self, tracer, op: Op) -> None:
        """Attach the sink's numbers to the op's sink spans."""
        for s in tracer.spans:
            if s.trace_id != tracer.trace_id:
                continue
            if s.name == "operators.xmlpipe.write_docset_stream":
                s.attrs.update(sink_s=op.extra["sink_s"], wait_s=(s.end - s.start) - op.extra["sink_s"],
                               ttfd_s=op.extra["first_doc"] - s.start)
            elif s.name == "operators.xmlpipe.write_docset_scale":
                s.attrs.update(files=op.extra["files"], bytes=op.extra["bytes"])

    @staticmethod
    def _read_files(out_dir: str) -> tuple[list[str], tuple[str, str], int, int]:
        """(documents, (_PROLOG, _CLOSE) texts, part files, part bytes) of a files sink."""
        docs, n_files, n_bytes = [], 0, 0
        for name in sorted(os.listdir(out_dir)):
            path = os.path.join(out_dir, name)
            if name.startswith("part-"):
                n_files += 1
                n_bytes += os.path.getsize(path)
                with open(path, encoding="utf-8") as fh:
                    docs += ["\n" + line for line in fh.read().split("\n")[:-1]]
        envelope = []
        for name in ("_PROLOG", "_CLOSE"):
            with open(os.path.join(out_dir, name), encoding="utf-8") as fh:
                envelope.append(fh.read())
        return docs, tuple(envelope), n_files, n_bytes

    def probe(self, spark, tracer) -> None:
        from cql_xmlpipe_spark.operators import xmlpipe

        cached = spark.sql(self.sql).cache()
        scan_s = _scan(tracer, cached)
        _probe(tracer, "operators.xmlpipe.with_doc_id",
               lambda: _noop_write(xmlpipe.with_doc_id(cached, self.keys, id_col="_doc_id")), scan_s)
        s = _probe(tracer, "operators.xmlpipe.xml_documents",
                   lambda: _noop_write(xmlpipe.xml_documents(cached, self.keys)), scan_s)
        s.attrs["bytes_out"] = self.bytes_out
        cached.unpersist()


class Dedup:
    """Corpus with planted near-duplicate families through ``dedup_cli --contract groups``."""

    name = "dedup"
    table = "documents"
    # the second job still runs ~15 % slower than later ones; a second
    # warm-up job would add ~11 s to every run
    warmup_ops = 1
    n_families = 400
    n_singletons = 600

    def __init__(self, seed: int, work: str):
        self.seed, self.work = seed, work
        self.data = os.path.join(work, "dedup-data")
        ids, texts, self.family = gen.dedup_corpus(seed, self.n_families, self.n_singletons)
        self.n_docs = len(ids)
        gen.write_dedup(ids, texts, self.data)

    def wrap(self, tracer) -> None:
        from cql_xmlpipe_spark import dedup_cli
        from cql_xmlpipe_spark.operators import dedup
        from cql_xmlpipe_spark.sources import registry

        tracer.wrap(dedup_cli, "main", "dedup_cli.main")
        tracer.wrap(registry, "load_table", "sources.registry.load_table")
        tracer.wrap(dedup, "minhash_groups_collapsed", "operators.dedup.minhash_groups_collapsed")
        tracer.wrap(dedup, "connected_components", "operators.dedup.connected_components")
        tracer.wrap(dedup, "unpersist_intermediates", "operators.dedup.unpersist_intermediates")

    def op(self, spark, i: int) -> Op:
        from cql_xmlpipe_spark import dedup_cli

        out = os.path.join(self.work, f"rosters-{i}")
        t0 = time.perf_counter()
        rc = _quiet(dedup_cli.main, ["--contract", "groups", "--data-dir", self.data, "--out", out])
        t1 = time.perf_counter()
        if rc != 0:
            return Op(t1 - t0, t1 - t0, 0, t1 - t0, [f"dedup_cli exited {rc}"])
        rosters = pq.read_table(out).column("members").to_pylist()
        shutil.rmtree(out, ignore_errors=True)
        errors = oracles.check_rosters(rosters, self.family)
        recall = oracles.dedup_recall(rosters, self.family)
        return Op(t1 - t0, t1 - t0, self.n_docs, t1 - t0, errors, recall=recall)

    def probe(self, spark, tracer) -> None:
        from cql_xmlpipe_spark.operators import dedup
        from cql_xmlpipe_spark.sources import registry

        cached = registry.load_table(spark, "documents", self.data).cache()
        scan_s = _scan(tracer, cached)
        _probe(tracer, "operators.dedup.shingle_hash_sets",
               lambda: _noop_write(dedup.shingle_hash_sets(cached)), scan_s)
        _probe(tracer, "operators.dedup.minhash_signatures",
               lambda: _noop_write(dedup.minhash_signatures(cached)), scan_s)
        with tracer.span("operators.dedup.minhash_lsh_pairs_collapsed") as s:
            out = dedup.minhash_lsh_pairs_collapsed(cached)
            pairs = [(r.id_a, r.id_b) for r in out.select("id_a", "id_b").collect()]
        s.attrs["probe_s"] = max(0.0, (s.end - s.start) - scan_s)
        s.attrs["pairs"] = len(pairs)
        s.attrs["precision"] = oracles.pair_precision(pairs, self.family)
        dedup.unpersist_intermediates(out)
        cached.unpersist()


class Search:
    """Clustered 64-d corpus; one closed-loop client sends 16-query top-10 requests."""

    name = "search"
    table = "embeddings"
    warmup_ops = 3
    n_vectors = 5_000
    n_queries = 16
    k = 10

    def __init__(self, seed: int, work: str):
        self.seed, self.work = seed, work
        self.data = os.path.join(work, "search-data")
        vec_ids, self.vecs = gen.search_corpus(seed, self.n_vectors)
        gen.write_search_corpus(vec_ids, self.vecs, self.data)
        self.last_queries = ""

    def wrap(self, tracer) -> None:
        from cql_xmlpipe_spark import similarity_cli
        from cql_xmlpipe_spark.sources import registry

        tracer.wrap(similarity_cli, "main", "similarity_cli.main")
        tracer.wrap(registry, "load_table", "sources.registry.load_table")

    def op(self, spark, i: int) -> Op:
        from cql_xmlpipe_spark import similarity_cli

        q_ids, q = gen.search_queries(self.seed, i, self.n_queries)
        q_path = os.path.join(self.work, f"queries-{i}.parquet")
        gen.write_queries(q_ids, q, q_path)
        out = os.path.join(self.work, f"topk-{i}")
        argv = ["--contract", "topk", "--strategy", "auto", "--k", str(self.k),
                "--data-dir", self.data, "--query-parquet", q_path, "--out", out]
        t0 = time.perf_counter()
        rc = _quiet(similarity_cli.main, argv)
        t1 = time.perf_counter()
        if rc != 0:
            return Op(t1 - t0, t1 - t0, 0, t1 - t0, [f"similarity_cli exited {rc}"])
        table = pq.read_table(out).to_pydict()
        shutil.rmtree(out, ignore_errors=True)
        if self.last_queries:
            os.remove(self.last_queries)
        self.last_queries = q_path
        answers: dict[int, list[tuple[int, int, float]]] = {}
        for qid, vid, rank, cos in zip(table["q_id"], table["vec_id"], table["rank"], table["cos"]):
            answers.setdefault(qid, []).append((rank, vid, cos))
        result = {qid: [(v, c) for _, v, c in sorted(rows)] for qid, rows in answers.items()}
        errors = oracles.check_topk(result, q_ids, q, self.vecs, self.k)
        return Op(t1 - t0, t1 - t0, len(q_ids), t1 - t0, errors)

    def probe(self, spark, tracer) -> None:
        from cql_xmlpipe_spark.operators import similarity
        from cql_xmlpipe_spark.sources import registry

        cached = registry.load_table(spark, "embeddings", self.data).cache()
        queries = spark.read.parquet(self.last_queries)
        scan_s = _scan(tracer, cached)
        _probe(tracer, "operators.similarity.brute_force_topk",
               lambda: _noop_write(similarity.brute_force_topk(cached, queries, k=self.k)), scan_s)
        _probe(tracer, "operators.similarity.topk_matmul",
               lambda: _noop_write(similarity.topk_matmul(cached, queries, k=self.k)), scan_s)
        cached.unpersist()


WORKLOADS = {w.name: w for w in (Export, Dedup, Search)}
