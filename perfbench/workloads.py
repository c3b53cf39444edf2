"""The benchmark's workloads.

Each workload makes its input from the seed (``generate``), computes
what the output must be without the engine (``expect``), warms the
session on a small corpus of its own (``warm``), runs one batch job
(``run_once``, the timed part), checks the written result (``check``)
and, in a traced run, measures its layers (``layers``).

Why these three (the README has the full table):

- forms-uniform: the fused extraction plan (``extract_spans`` auto mode
  with the synthetic decoder), where per-document Python geometry and
  Q&A is nearly all of the work;
- forms-resume: the same extraction layer under the kill-and-resume
  checkpoint, which adds small per-group jobs, sink writes and reads;
- native-skewed: the paged plan (auto mode with the native decoder),
  where the image kernels dominate and one heavy document sets the tail.

BENCHMARK.json times forms-uniform and native-skewed, one on each side
of the fused/paged choice. forms-resume's 22 small Spark jobs per job
spread too widely between runs short enough for three timed workloads
to fit the comparison's run budget, so it runs timed only by hand; the
forms-uniform traced run carries it as a step (``checkpoint_isolation``)
for its checkpoint and sink layers.

The curation operators (dedup, text statistics, web extraction) are not
a timed workload: a fresh JVM compiles their six plans in about 15 s, so
a timed run of them takes about 40 s against about 30 s for the others.
Their layer times come from an isolation step of the forms-uniform
traced run.
"""

from __future__ import annotations

import hashlib
import os
import random
import shutil
import statistics
import time

import numpy as np
import pandas as pd

# ---------------------------------------------------------------------------
# span checking shared by the extraction workloads
# ---------------------------------------------------------------------------


def read_spans(path: str) -> dict[str, list[tuple]]:
    """Written span rows → doc_id → [(kind, text, media_ref, order)]."""
    import pyarrow.parquet as pq

    t = pq.read_table(path, columns=["doc_id", "kind", "text", "media_ref", "order"])
    df = t.to_pandas().sort_values(["doc_id", "order"], kind="stable")
    by_doc: dict[str, list[tuple]] = {}
    for doc_id, kind, text, ref, order in zip(
        df["doc_id"], df["kind"], df["text"], df["media_ref"], df["order"]
    ):
        by_doc.setdefault(doc_id, []).append((kind, text, ref, int(order)))
    return by_doc


def span_digest(spans: list[tuple]) -> str:
    return hashlib.sha1(repr(spans).encode()).hexdigest()


def check_spans(
    by_doc: dict[str, list[tuple]],
    doc_ids: list[str],
    expected: dict[str, list[tuple]],
    digests: dict[str, str],
) -> set[str]:
    """Documents whose output is wrong: missing, different from the
    oracle (for the documents in ``expected``), or different from the
    first checked run (``digests``, filled on first use)."""
    bad = set(by_doc) - set(doc_ids)  # output for a document not in the input
    first = not digests
    for d in doc_ids:
        spans = by_doc.get(d)
        if spans is None:
            bad.add(d)
            continue
        if d in expected and spans != expected[d]:
            bad.add(d)
        digest = span_digest(spans)
        if first:
            digests[d] = digest
        elif digests.get(d) != digest:
            bad.add(d)
    return bad


class Workload:
    name = ""

    def __init__(self, seed: int, scale: float, work_dir: str):
        self.seed = seed
        self.scale = scale
        self.work = os.path.join(work_dir, self.name)
        os.makedirs(self.work, exist_ok=True)
        self.n_docs = 0
        self.n_pages = 0
        self.input_digest = ""

    def size(self, full: int, floor: int) -> int:
        return max(floor, int(round(full * self.scale)))

    def generate(self) -> None:
        raise NotImplementedError

    def expect(self) -> None:
        raise NotImplementedError

    def warm(self, spark) -> None:
        raise NotImplementedError

    def before_iteration(self) -> None:
        """Untimed clean-up before a job."""

    def run_once(self, spark, tracer=None) -> dict:
        """One job. Returns extra per-job timings (seconds) by name."""
        raise NotImplementedError

    def check(self) -> tuple[int, int]:
        """(outputs checked, outputs wrong) for the last job."""
        raise NotImplementedError

    def layers(self, spark, tracer, cores: int) -> tuple[dict[str, float], int, int]:
        """Replay and isolation measurements of a traced run: (metrics,
        outputs checked, outputs wrong)."""
        return {}, 0, 0

    def iteration_layers(self, extras: list[dict]) -> dict[str, float]:
        """Per-layer numbers derived from traced jobs' extras."""
        return {}


# ---------------------------------------------------------------------------
# forms corpora (fixtures.generator)
# ---------------------------------------------------------------------------

_PAGE_MIX = {1: 0.5, 2: 0.3, 3: 0.2}


def forms_doc_ids(tag: str, n_docs: int) -> list[str]:
    """``n_docs`` generator documents named from ``tag`` with exactly the
    50/30/20 mix of 1/2/3-page documents, in a seeded order. Fixing the
    mix keeps the page count equal across seeds while the content
    (layouts, OCR confusions, answers) changes with the names."""
    from pdf_parser_spark.fixtures.generator import doc_page_count

    quota = {k: int(round(n_docs * f)) for k, f in _PAGE_MIX.items()}
    quota[3] = n_docs - quota[1] - quota[2]
    by_pages: dict[int, list[str]] = {1: [], 2: [], 3: []}
    i = 0
    while sum(len(v) for v in by_pages.values()) < n_docs:
        d = f"{tag}_{i:07d}"
        k = doc_page_count(d)
        if len(by_pages[k]) < quota[k]:
            by_pages[k].append(d)
        i += 1
    ids = by_pages[1] + by_pages[2] + by_pages[3]
    random.Random(tag).shuffle(ids)
    return ids


def write_forms_docs(path: str, doc_ids: list[str]) -> None:
    from pdf_parser_spark.fixtures.generator import doc_spans

    pd.DataFrame({"doc_id": doc_ids, "spans": [doc_spans(d) for d in doc_ids]}).to_parquet(
        path, index=False, row_group_size=500
    )


def oracle_spans(doc_id: str) -> list[tuple]:
    from pdf_parser_spark.fixtures.generator import (
        doc_page_count,
        doc_spans,
        form_schemas,
        page_perception,
    )
    from pdf_parser_spark.oracle.reference_oracle import extract_document_spans

    pages = {p: page_perception(doc_id, p) for p in range(1, doc_page_count(doc_id) + 1)}
    return extract_document_spans(doc_spans(doc_id), pages, form_schemas())


# Python-layer functions timed by the replay: (owner module, attribute,
# span name). Geometry and questions are called by extract_document
# through their module attributes, so patching the attribute is seen.
_GEOMETRY_FUNCS = ("nms_dedupe", "find_label_positions", "find_section_regions", "assign_checkboxes")


def replay(tracer, docs: list[tuple[str, list[dict]]], sections, decoder: str) -> dict:
    """Single-threaded in-driver replay of the fused per-document body
    (decode_doc then extract_document) with every layer function
    wrapped. Returns the per-layer numbers, per page or per document."""
    from pdf_parser_spark.plans import extract as X
    from pdf_parser_spark.plans import geometry as G
    from pdf_parser_spark.plans import questions as Q
    from pdf_parser_spark.sources import decoder as D
    from pdf_parser_spark.sources import kernels as K
    from pdf_parser_spark.sources import perception as P

    for fn in _GEOMETRY_FUNCS:
        tracer.wrap(G, fn, "plans.geometry")
    tracer.wrap(Q, "page_responses", "plans.questions")
    tracer.wrap(X, "extract_document", "plans.extract")
    tracer.wrap(D, "decode_doc", "sources.decoder")
    tracer.wrap(K, "preprocess_page", "sources.kernels.preprocess")
    tracer.wrap(K, "match_template_boxes", "sources.kernels.match")
    tracer.wrap(P, "load_page_rgb", "sources.perception.load")
    tracer.wrap(P, "native_ocr_tokens", "sources.perception.ocr")
    pages = 0
    try:
        for doc_id, spans in docs:
            with tracer.span("replay.doc"):
                decoded, envs = D.decode_doc(doc_id, spans, decoder)
                X.extract_document(spans, decoded, sections, envs)
            pages += len(decoded)
    finally:
        tracer.restore()
    per_page = 1e3 / max(pages, 1)
    per_doc = 1e3 / len(docs)
    t = tracer.totals()

    def ms(name: str, kind: str, per: float) -> float:
        return t.get(name, {}).get(kind, 0.0) * per

    return {
        "plans.geometry.ms_per_page": ms("plans.geometry", "self_s", per_page),
        "plans.questions.ms_per_page": ms("plans.questions", "self_s", per_page),
        "plans.extract.self_ms_per_doc": ms("plans.extract", "self_s", per_doc),
        "plans.extract.doc_ms": ms("plans.extract", "total_s", per_doc),
        "sources.decoder.ms_per_page": ms("sources.decoder", "total_s", per_page),
        "sources.kernels.preprocess_ms_per_page": ms("sources.kernels.preprocess", "total_s", per_page),
        "sources.kernels.match_ms_per_page": ms("sources.kernels.match", "total_s", per_page),
        "sources.perception.load_ms_per_page": ms("sources.perception.load", "total_s", per_page),
        "sources.perception.ocr_ms_per_page": ms("sources.perception.ocr", "total_s", per_page),
    }


def timed_noop(df) -> float:
    t = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t


def isolation(spark, docs_path: str, out_path: str, decoder: str, cores: int, reps: int = 3) -> dict:
    """Each stage alone, median of ``reps``: the scan, the identity
    ``mapInPandas`` over the fused plan's input (the Arrow round-trip
    floor), the decode stage, and ``lineage_metrics`` over the written
    spans."""
    from pdf_parser_spark.plans.extract import lineage_metrics
    from pdf_parser_spark.sources.decoder import perceive
    from pdf_parser_spark.sources.documents import media_pages, read_documents

    docs = read_documents(spark, docs_path)

    def identity(batches):
        yield from batches

    stages = {
        "sources.documents.scan_s": lambda: docs,
        "plans.extract.arrow_floor_s": lambda: docs.repartition(cores).mapInPandas(
            identity, schema=docs.schema
        ),
        "sources.decoder.perceive_s": lambda: perceive(media_pages(docs), decoder=decoder),
        "plans.extract.lineage_s": lambda: lineage_metrics(docs, spark.read.parquet(out_path)),
    }
    return {
        name: statistics.median(timed_noop(build()) for _ in range(reps))
        for name, build in stages.items()
    }


class _FormsBase(Workload):
    tag_prefix = ""
    full_docs = 0
    oracle_sample = 24

    def generate(self) -> None:
        tag = f"{self.tag_prefix}{self.seed}"
        self.doc_ids = forms_doc_ids(tag, self.size(self.full_docs, 24))
        self.warm_ids = forms_doc_ids(f"{tag}w", self.size(self.full_docs // 10, 8))
        self.docs_path = os.path.join(self.work, "documents.parquet")
        self.warm_path = os.path.join(self.work, "warm_documents.parquet")
        self.out_path = os.path.join(self.work, "spans")
        write_forms_docs(self.docs_path, self.doc_ids)
        write_forms_docs(self.warm_path, self.warm_ids)
        from pdf_parser_spark.fixtures.generator import doc_page_count

        self.n_docs = len(self.doc_ids)
        self.n_pages = sum(doc_page_count(d) for d in self.doc_ids)
        self.input_digest = hashlib.sha1("\n".join(self.doc_ids).encode()).hexdigest()[:12]

    def expect(self) -> None:
        k = min(self.oracle_sample, len(self.doc_ids))
        sample = random.Random(f"{self.seed}-oracle").sample(self.doc_ids, k)
        self.expected = {d: oracle_spans(d) for d in sample}
        self.digests: dict[str, str] = {}

    def check_written(self) -> tuple[int, set[str], dict]:
        by_doc = read_spans(self.out_path)
        return len(self.doc_ids), check_spans(by_doc, self.doc_ids, self.expected, self.digests), by_doc

    def layers(self, spark, tracer, cores: int) -> tuple[dict[str, float], int, int]:
        from pdf_parser_spark.fixtures.generator import doc_spans, form_schemas

        sample = random.Random(f"{self.seed}-replay").sample(self.doc_ids, min(60, len(self.doc_ids)))
        out = replay(tracer, [(d, doc_spans(d)) for d in sample], form_schemas(), "synthetic")
        out.update(isolation(spark, self.docs_path, self.out_path, "synthetic", cores))
        return out, 0, 0


class FormsUniform(_FormsBase):
    """Seeded generator corpus through ``jobs/extract_job.py``'s
    sequence: read_documents → extract_spans (auto ⇒ fused) → parquet →
    lineage_metrics → parquet."""

    name = "forms-uniform"
    tag_prefix = "fu"
    full_docs = 600
    curation_docs = 400

    def generate(self) -> None:
        super().generate()
        self.metrics_path = os.path.join(self.work, "spans_metrics")

    def _job(self, spark, docs_path: str) -> None:
        from pdf_parser_spark.plans.extract import extract_spans, lineage_metrics
        from pdf_parser_spark.sources.documents import read_documents

        docs = read_documents(spark, docs_path)
        extract_spans(docs).write.mode("overwrite").parquet(self.out_path)
        out = spark.read.parquet(self.out_path)
        lineage_metrics(docs, out).write.mode("overwrite").parquet(self.metrics_path)

    def warm(self, spark) -> None:
        self._job(spark, self.warm_path)

    def run_once(self, spark, tracer=None) -> dict:
        self._job(spark, self.docs_path)
        return {}

    def layers(self, spark, tracer, cores: int) -> tuple[dict[str, float], int, int]:
        out, _, _ = super().layers(spark, tracer, cores)
        ops, checked, wrong = curation_isolation(
            spark, self.work, self.seed, self.size(self.curation_docs, 40)
        )
        out.update(ops)
        ck, ck_checked, ck_wrong = checkpoint_isolation(spark, tracer, self.seed, self.scale, self.work)
        out.update(ck)
        return out, checked + ck_checked, wrong + ck_wrong

    def check(self) -> tuple[int, int]:
        from pdf_parser_spark.fixtures.generator import doc_spans

        n, bad, by_doc = self.check_written()
        # lineage rows must agree with the written spans and the input
        lin = pd.read_parquet(self.metrics_path)
        kinds = ["text", "section", "checkbox", "question", "answer"]
        seen = set()
        for row in lin.itertuples(index=False):
            d = row.doc_id
            seen.add(d)
            spans = by_doc.get(d, [])
            counts = [sum(1 for s in spans if s[0] == k) for k in kinds]
            if counts != [int(getattr(row, k)) for k in kinds] or int(row.n_input_spans) != len(
                doc_spans(d)
            ):
                bad.add(d)
        bad.update(set(self.doc_ids) - seen)
        return n, len(bad)


class FormsResume(_FormsBase):
    """The same corpus shape from another seed through
    ``extract_with_checkpoint``: a run killed after half the groups, the
    resuming run, then ``read_extracted`` written out as the job does."""

    name = "forms-resume"
    tag_prefix = "fr"
    full_docs = 200
    n_buckets = 4
    group_size = 2

    def generate(self) -> None:
        super().generate()
        self.ck = os.path.join(self.work, "checkpoint")
        n_groups = -(-self.n_buckets // self.group_size)
        self.fail_after = n_groups // 2

    def before_iteration(self) -> None:
        shutil.rmtree(self.ck, ignore_errors=True)

    def _job(self, spark, docs_path: str, tracer=None) -> dict:
        from pdf_parser_spark.sources.documents import read_documents
        from pdf_parser_spark.streaming.checkpoint import (
            extract_with_checkpoint,
            read_extracted,
            read_metrics,
        )

        docs = read_documents(spark, docs_path)
        kw = dict(n_buckets=self.n_buckets, group_size=self.group_size)
        try:
            extract_with_checkpoint(spark, docs, self.ck, fail_after_groups=self.fail_after, **kw)
        except RuntimeError as e:
            if "injected failure" not in str(e):
                raise
        else:
            raise RuntimeError("the injected kill did not fire")
        markers_killed = read_metrics(self.ck) if tracer else None
        t = time.perf_counter()
        extract_with_checkpoint(spark, docs, self.ck, **kw)
        recover_s = time.perf_counter() - t
        markers_done = read_metrics(self.ck) if tracer else None
        read_extracted(spark, self.ck).write.mode("overwrite").parquet(self.out_path)
        extra = {"recover_s": recover_s}
        if tracer:
            extra["markers"] = (markers_killed, markers_done)
        return extra

    def warm(self, spark) -> None:
        self._job(spark, self.warm_path)
        self.before_iteration()

    def run_once(self, spark, tracer=None) -> dict:
        if tracer is None:
            return self._job(spark, self.docs_path)
        # group boundaries: the extract_spans call that starts a group and
        # the sink write that ends its extraction
        from pdf_parser_spark.plans import extract as X
        from pdf_parser_spark.streaming.sinks import ParquetDirSink

        events: list[tuple] = []
        orig_extract, orig_write = X.extract_spans, ParquetDirSink.write_group

        def extract_spans(*a, **k):
            events.append(("extract", time.time()))
            return orig_extract(*a, **k)

        def write_group(sink, df, group_name):
            with tracer.span("streaming.sinks.write") as s:
                orig_write(sink, df, group_name)
            events.append(("write", group_name, s["start"], s["end"]))

        X.extract_spans, ParquetDirSink.write_group = extract_spans, write_group
        try:
            extra = self._job(spark, self.docs_path, tracer)
        finally:
            X.extract_spans, ParquetDirSink.write_group = orig_extract, orig_write
        extra["events"] = events
        return extra

    def iteration_layers(self, extras: list[dict]) -> dict[str, float]:
        group_s, write_s, read_s, groups_run, redo = [], [], [], [], []
        for ex in extras:
            killed, done = ex["markers"]
            # a write belongs to the killed run until the resume starts:
            # the killed run commits exactly fail_after groups
            commits = [{m["dir"]: m for m in killed}, {m["dir"]: m for m in done}]
            start, docs, n = None, 0, 0
            for ev in ex["events"]:
                if ev[0] == "extract":
                    start = ev[1]
                    continue
                _, name, w0, w1 = ev
                marker = commits[0 if n < self.fail_after else 1][name]
                group_s.append(marker["committed_at"] - start)
                write_s.append(w1 - w0)
                read_s.append(marker["committed_at"] - w1)
                docs += marker["docs"]
                n += 1
            groups_run.append(n)
            redo.append(docs / self.n_docs)
        return {
            "streaming.checkpoint.recover_s": statistics.median(ex["recover_s"] for ex in extras),
            "streaming.checkpoint.group_s": statistics.median(group_s),
            "streaming.checkpoint.groups_run": statistics.median(groups_run),
            "streaming.checkpoint.redo_frac": statistics.median(redo),
            "streaming.sinks.write_s": statistics.median(write_s),
            "streaming.sinks.read_s": statistics.median(read_s),
        }

    def check(self) -> tuple[int, int]:
        n, bad, _ = self.check_written()
        return n, len(bad)


def checkpoint_isolation(spark, tracer, seed: int, scale: float, work: str) -> tuple[dict, int, int]:
    """The ``forms-resume`` job, warmed and then run once traced, as a step
    of another workload's traced run: its checkpoint and sink layers, and
    the outputs it checked and found wrong."""
    wl = FormsResume(seed, scale, work)
    wl.generate()
    wl.expect()
    wl.warm(spark)
    wl.before_iteration()
    extra = wl.run_once(spark, tracer)
    checked, wrong = wl.check()
    return wl.iteration_layers([extra]), checked, wrong


# ---------------------------------------------------------------------------
# native-skewed (fixtures.native_sim)
# ---------------------------------------------------------------------------


class NativeSkewed(Workload):
    """Rendered 900×1100 pages through the real preprocess / CLAHE /
    template-match kernels, OCR by the deterministic simulator. Two-page
    documents plus one heavy document; auto mode picks the paged plan.
    The heavy document's later pages repeat its two forms, whose
    sections are complete by then, so they add no spans: its expected
    output is that of a two-page document."""

    name = "native-skewed"
    full_docs = 1
    full_heavy_pages = 6

    def generate(self) -> None:
        from pdf_parser_spark.fixtures import native_sim as NS

        n_regular = self.size(self.full_docs, 1)
        heavy_pages = self.size(self.full_heavy_pages, 3)
        # the simulator encodes the document index in 16 bits
        base = 1 + (self.seed * 7919) % 60000
        self.regular = list(range(base, base + n_regular))
        self.heavy = base + n_regular
        self.warm_idx = base + n_regular + 1
        rows = [self._doc(i, 2) for i in self.regular] + [self._doc(self.heavy, heavy_pages)]
        self.docs_path = os.path.join(self.work, "documents.parquet")
        self.warm_path = os.path.join(self.work, "warm_documents.parquet")
        self.out_path = os.path.join(self.work, "spans")
        pd.DataFrame(rows).to_parquet(self.docs_path, index=False)
        pd.DataFrame([self._doc(self.warm_idx, 2)]).to_parquet(self.warm_path, index=False)
        self.doc_ids = [r["doc_id"] for r in rows]
        self.n_docs = len(rows)
        self.n_pages = 2 * n_regular + heavy_pages
        self.input_digest = hashlib.sha1(repr(self.regular + [self.heavy]).encode()).hexdigest()[:12]
        self.sections = NS.SIM_SECTIONS

    def _page_path(self, idx: int, page_no: int) -> str:
        return os.path.join(self.work, f"d{idx}_p{page_no}.npy")

    def _doc(self, idx: int, n_pages: int) -> dict:
        from pdf_parser_spark.fixtures import native_sim as NS

        for page_no in (1, 2):
            np.save(self._page_path(idx, page_no), NS.render_page(idx, page_no))
        spans = [{"kind": "text", "text": f"native doc {idx}", "media_ref": "", "offset": 0}]
        for p in range(n_pages):
            spans.append({"kind": "pdf_page", "text": "",
                          "media_ref": self._page_path(idx, p % 2 + 1), "offset": p + 1})
        return {"doc_id": NS.doc_id_of(idx), "spans": spans}

    def expect(self) -> None:
        from pdf_parser_spark.fixtures import native_sim as NS
        from pdf_parser_spark.sources import perception as P

        self.expected = {
            NS.doc_id_of(i): NS.expected_spans(i, self.work) for i in self.regular + [self.heavy]
        }
        self.digests: dict[str, str] = {}
        # bindings are captured into the UDF closures at plan time
        P.configure_native(
            ocr="pdf_parser_spark.fixtures.native_sim:sim_ocr",
            yesno_ocr="pdf_parser_spark.fixtures.native_sim:sim_yesno",
        )

    def _job(self, spark, docs_path: str) -> None:
        from pdf_parser_spark.plans.extract import extract_spans
        from pdf_parser_spark.sources.documents import read_documents

        docs = read_documents(spark, docs_path)
        extract_spans(docs, sections=self.sections, decoder="native").write.mode(
            "overwrite"
        ).parquet(self.out_path)

    def warm(self, spark) -> None:
        self._job(spark, self.warm_path)

    def run_once(self, spark, tracer=None) -> dict:
        self._job(spark, self.docs_path)
        return {}

    def check(self) -> tuple[int, int]:
        by_doc = read_spans(self.out_path)
        return self.n_docs, len(check_spans(by_doc, self.doc_ids, self.expected, self.digests))

    def layers(self, spark, tracer, cores: int) -> tuple[dict[str, float], int, int]:
        from pdf_parser_spark.fixtures import native_sim as NS

        docs = pd.read_parquet(self.docs_path)
        row = docs[docs["doc_id"] != NS.doc_id_of(self.heavy)].sample(1, random_state=self.seed)
        sample = [(d, [dict(s) for s in spans]) for d, spans in zip(row["doc_id"], row["spans"])]
        out = replay(tracer, sample, self.sections, "native")
        out.update(isolation(spark, self.docs_path, self.out_path, "native", cores, reps=1))
        return out, 0, 0


# ---------------------------------------------------------------------------
# curation operators (checked against __spark_entry__.oracle_sql()), run
# as an isolation step of the forms-uniform traced run
# ---------------------------------------------------------------------------

# gate name → per-layer metric. The gate's query and its DuckDB oracle
# are the pair in __spark_entry__.queries() and oracle_sql().
CURATION_OPS = {
    "d1_exact_dedup": "operators.dedup.exact_s",
    "d3_minhash_lsh": "operators.dedup.minhash_lsh_s",
    "d4_simhash": "operators.dedup.simhash_s",
    "t1_text_profile": "operators.textstats.profile_s",
    "t13_chunk_text": "operators.textstats.chunk_s",
    "h1_main_content": "operators.webextract.main_content_s",
}


def curation_chain(spark, corpus_dir: str) -> dict:
    """gate name → builder of the operator call that gate makes, with the
    gate's parameters but without its final ``orderBy``: that global sort
    serves only the gate's row-order-sensitive value check (it plans a range
    exchange whose sampling job re-runs the child), and the oracle
    comparison here sorts rows itself."""
    from pyspark.sql import functions as F

    import __spark_entry__ as E
    from pdf_parser_spark.operators.dedup import (
        exact_dedup,
        minhash_lsh_pairs,
        simhash,
        word_shingles,
    )
    from pdf_parser_spark.operators.textstats import chunk_text, text_profile
    from pdf_parser_spark.operators.webextract import main_content

    docs = spark.read.parquet(os.path.join(corpus_dir, "documents.parquet"))
    html = docs.select("doc_id", E._synth_html_col().alias("html"))
    return {
        "d1_exact_dedup": lambda: exact_dedup(docs, "text", "doc_id"),
        "d3_minhash_lsh": lambda: minhash_lsh_pairs(
            word_shingles(docs, "text", 3), "doc_id", "shingles", 12, 4, 0.12
        ),
        "d4_simhash": lambda: simhash(docs, "doc_id", "text", bits=16),
        "t1_text_profile": lambda: text_profile(docs, "doc_id", "text"),
        "t13_chunk_text": lambda: chunk_text(docs, "doc_id", "text", chunk_tokens=64, stride=48),
        "h1_main_content": lambda: main_content(html, "doc_id", "html").select(
            "doc_id",
            F.col("block_idx").cast("long").alias("block_idx"),
            "text",
            F.col("text_len").cast("long").alias("text_len"),
            "link_density",
        ),
    }

_VOCAB = (
    "batch part spark line column order small sort fast value scan a hash slow "
    "group agg filter query big window row table stream merge data key the "
    "customer join vector"
).split()


def curation_corpus(seed: int, n_docs: int) -> pd.DataFrame:
    """A documents table in the sf ``documents`` shape. 10% of documents
    are exact copies and 10% near copies (one word in ten replaced) of
    earlier ones; lengths run 8–100 words."""
    r = random.Random(f"curation-{seed}")
    texts: list[str] = []
    for i in range(n_docs):
        kind = i % 10
        if texts and kind == 3:
            texts.append(texts[r.randrange(len(texts))])
        elif texts and kind == 7:
            words = texts[r.randrange(len(texts))].split()
            for j in range(0, len(words), 10):
                words[j] = r.choice(_VOCAB)
            texts.append(" ".join(words))
        else:
            texts.append(" ".join(r.choice(_VOCAB) for _ in range(r.randint(8, 100))))
    return pd.DataFrame(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": texts,
            "lang": ["en"] * n_docs,
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def frames_equal(a: pd.DataFrame, b: pd.DataFrame) -> bool:
    """Same columns, row count and values after sorting rows (the
    comparison tools/selfcheck_entry.py makes)."""
    cols = sorted(a.columns)
    if cols != sorted(b.columns) or len(a) != len(b):
        return False
    a = a[cols].sort_values(cols).reset_index(drop=True)
    b = b[cols].sort_values(cols).reset_index(drop=True)
    for c in cols:
        for x, y in zip(a[c].tolist(), b[c].tolist()):
            if not (x == y or (x is None and y is None) or (x != x and y != y)):
                return False
    return True


def curation_isolation(spark, work: str, seed: int, n_docs: int) -> tuple[dict, int, int]:
    """The curation operator chain alone on a seeded text corpus: one
    pass to compile every plan, then one timed pass whose outputs are
    checked against the gates' DuckDB oracles. Returns (per-operator
    seconds, outputs checked, outputs wrong)."""
    import duckdb

    import __spark_entry__ as E
    from pdf_parser_spark.operators.dedup import shingle_cache_scope

    corpus_dir = os.path.join(work, "curation")
    os.makedirs(corpus_dir, exist_ok=True)
    path = os.path.join(corpus_dir, "documents.parquet")
    curation_corpus(seed, n_docs).to_parquet(path, index=False)
    oracles = E.oracle_sql()
    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}')")
        expected = {k: con.execute(oracles[k]).fetchdf() for k in CURATION_OPS}
    finally:
        con.close()

    chain = curation_chain(spark, corpus_dir)
    times = {}
    for _ in range(2):
        for key, metric in CURATION_OPS.items():
            t = time.perf_counter()
            # d3's shingle cache must outlive its lazy plan until the write
            with shingle_cache_scope():
                chain[key]().write.mode("overwrite").parquet(os.path.join(corpus_dir, key))
            times[metric] = time.perf_counter() - t
    wrong = sum(
        not frames_equal(pd.read_parquet(os.path.join(corpus_dir, key)), expected[key])
        for key in CURATION_OPS
    )
    return times, len(CURATION_OPS), wrong


WORKLOADS = {w.name: w for w in (FormsUniform, FormsResume, NativeSkewed)}
