"""The benchmark's workloads: extract_stored and eval_suite.

Each workload calls the package's public entry points only. One run is
timed from the first call to the last result; its output check runs
after the timer stops. The traced run records a span around each layer
call, materialises the layer's output at the boundary (persist + no-op
sink) so the next layer starts from it, and reads the executed plan's
SQL metrics (plan_metrics.py). Kernel costs (`*_ms_per_*`) are timed
single-threaded in this process, or in one Spark task where the kernel is
not importable on its own, on a fixed seeded sample.
"""

from __future__ import annotations

import contextlib
import io
import os
import re
import statistics
import time

import duckdb
import numpy as np
import pyarrow.parquet as pq

from perfbench import fixtures
from perfbench.plan_metrics import plan_nodes, run_plan, totals
from perfbench.spans import Tracer

MB = 2**20
TOL = 1e-6  # both sides round metric values to 6 decimals


def _spark_env_confs(work: str, cores: int) -> dict:
    """Where Spark may write, and no console UI: keeps every file inside
    the work directory. No tuning confs."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return {
        "spark.master": f"local[{cores}]",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
    }


REPORTED_CONFS = (
    "spark.master", "spark.driver.memory",
    "spark.sql.execution.arrow.maxRecordsPerBatch",
    "spark.sql.execution.arrow.pyspark.enabled",
    "spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled",
    "spark.sql.files.maxPartitionBytes",
    "spark.sql.parquet.compression.codec",
)


def effective_confs(spark) -> dict:
    """The session's value of each REPORTED_CONFS key (Spark's default
    when the session does not set it)."""
    out = {}
    for k in REPORTED_CONFS:
        try:
            out[k] = spark.conf.get(k)
        except Exception:  # a core conf the SQL conf does not know
            out[k] = spark.sparkContext.getConf().get(k, "<default>")
    return out


def compare_rows(what: str, got: list, want: list, n_key: int = 1) -> list[str]:
    """Problems found comparing two lists of tuples, matched on their
    first `n_key` fields. Floats compare within TOL, the rest exactly."""
    problems = []
    g = {tuple(r[:n_key]): tuple(r) for r in got}
    w = {tuple(r[:n_key]): tuple(r) for r in want}
    if len(g) != len(got):
        problems.append(f"{what}: duplicate keys in the output")
    if g.keys() != w.keys():
        problems.append(f"{what}: {len(g.keys() - w.keys())} unexpected and "
                        f"{len(w.keys() - g.keys())} missing rows")
    bad = 0
    for k in g.keys() & w.keys():
        for a, b in zip(g[k], w[k]):
            if isinstance(a, float) or isinstance(b, float):
                if a is None or b is None or abs(float(a) - float(b)) > TOL:
                    bad += 1
                    break
            elif a != b:
                bad += 1
                break
    if bad:
        problems.append(f"{what}: {bad} rows differ from the oracle")
    return problems


def _oracle(con, name: str) -> list:
    from __spark_entry__ import oracle_sql

    return [tuple(r) for r in con.execute(oracle_sql()[name]).fetchall()]


def _oracles(docs, *names: str) -> dict:
    """Rows of each named oracle query, run by DuckDB over `docs`."""
    con = duckdb.connect()
    con.register("documents", docs)
    out = {q: _oracle(con, q) for q in names}
    con.close()
    return out


def _ms_per_item(fn, items, repeats: int = 3) -> float:
    """Median over `repeats` passes of the per-item time of fn(item)."""
    per = []
    for _ in range(repeats):
        t0 = time.perf_counter()
        for it in items:
            fn(it)
        per.append((time.perf_counter() - t0) / len(items) * 1e3)
    return statistics.median(per)


def _layer_totals(df) -> dict:
    """Plan-metric totals of the frame `df`, persisted just before: runs
    it to a no-op sink and walks the plan that filled its cache."""
    return totals(plan_nodes(run_plan(df), follow_cache=True))


def _arrow_metrics(parts: list[dict]) -> dict:
    """arrow.* per-layer metrics from the plan totals of the layers that
    cross the Python boundary (bytes and ms summed over tasks)."""
    s = lambda k: sum(p.get(k, 0) for p in parts)  # noqa: E731
    return {
        "arrow.sent_mb": s("pythonDataSent") / MB,
        "arrow.received_mb": s("pythonDataReceived") / MB,
        "arrow.python_boot_s": s("pythonBootTime") / 1e3,
        "arrow.python_init_s": s("pythonInitTime") / 1e3,
        "arrow.python_total_s": s("pythonTotalTime") / 1e3,
    }


def _partition_mb(df, col: str, n_parts: int) -> list[float]:
    """MB of `col` held by each partition of the (cached) frame `df`."""
    from pyspark.sql import functions as F

    rows = (df.groupBy(F.spark_partition_id().alias("p"))
            .agg(F.sum(F.length(col)).alias("b")).collect())
    sizes = [0.0] * n_parts
    for r in rows:
        sizes[r["p"]] = r["b"] / MB
    return sizes


def _max_over_mean(xs: list[float]) -> float:
    mean = sum(xs) / len(xs)
    return max(xs) / mean if mean else 0.0


def _scan_probe(spark, tr: Tracer, path: str) -> dict:
    """sources.*: one scan of `path` to a no-op sink."""
    df = spark.read.parquet(path)
    with tr.span("sources.scan"):
        t = totals(plan_nodes(run_plan(df)))
    return {
        "sources.scan_s": tr.self_time("sources.scan"),
        "sources.scan_mb": t.get("scanFilesSize", 0) / MB,
        "sources.input_splits": float(df.rdd.getNumPartitions()),
    }


class Workload:
    """One workload: set-up, one timed run, its check, a traced run."""

    name = ""
    n_docs = 0
    # untimed runs after the warm-up, while the JIT still speeds runs up
    settle = 0
    # measured runs per process, a constant so that the median does not
    # depend on whether the first run happened to end before --seconds
    runs = 3

    def __init__(self, seed: int, work: str, cores: int):
        self.seed, self.work, self.cores = seed, work, cores
        self.data = os.path.join(work, "data")
        # partitions of the Python stages: the extract job's own default
        self.n_parts = 2 * cores

    def start_session(self):
        raise NotImplementedError

    def prepare(self, spark) -> None:
        """Write the seeded inputs under self.data (set-up, timed)."""
        raise NotImplementedError

    def expect(self) -> None:
        """Compute what a correct run returns (not timed)."""

    def run_once(self, spark, i: int | str):
        """One run; `i` names its output directories."""
        raise NotImplementedError

    def check(self, spark, result) -> list[str]:
        raise NotImplementedError

    def traced(self, spark, tr: Tracer) -> tuple[dict, list[str]]:
        """(per-layer metrics, problems found checking the traced run's
        outputs)."""
        raise NotImplementedError

    def details(self, results: list) -> dict:
        return {}


# -- extract_stored ------------------------------------------------------------


class ExtractStored(Workload):
    """jobs.extract_job over a stored pages table, in a session built the
    way the job builds it (no session.DEFAULT_CONFS)."""

    name = "extract_stored"
    n_docs = 2000
    settle = 2  # on a 4-core host runs 1-2 after the warm-up are 10-20 % slower

    def start_session(self):
        from pyspark.sql import SparkSession

        b = SparkSession.builder.appName("extract-job")
        for k, v in _spark_env_confs(self.work, self.cores).items():
            b = b.config(k, v)
        return b.getOrCreate()

    def prepare(self, spark) -> None:
        self.fx = fixtures.write_stored_pages(
            self.seed, self.n_docs, os.path.join(self.data, "pages"))

    def _dirs(self, i):
        run = os.path.join(self.work, "runs", f"run-{i}")
        return os.path.join(run, "out"), os.path.join(run, "lineage")

    def run_once(self, spark, i):
        from jobs.extract_job import main

        out, lineage = self._dirs(i)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            main(["--input", self.fx.path, "--output", out,
                  "--lineage", lineage, "--run-id", f"bench-{i}",
                  "--checkpoint-resume"], stop_session=False)
        return {"out": out, "lineage": lineage, "stdout": buf.getvalue()}

    def check(self, spark, result) -> list[str]:
        from pyspark.sql import functions as F

        problems = []
        m = re.search(r"committed=(\d+) byte_identical=(\d+)", result["stdout"])
        if not m:
            return ["extract_stored: the job printed no summary line"]
        committed, ident = int(m.group(1)), int(m.group(2))
        result["byte_identical_rate"] = ident / max(committed, 1)
        if committed != self.fx.n_pages:
            problems.append(f"extract_stored: committed {committed} rows, "
                            f"expected {self.fx.n_pages}")
        if ident != self.fx.n_identical:
            problems.append(f"extract_stored: {ident} byte-identical rows, "
                            f"generated {self.fx.n_identical}")
        rows = (spark.read.parquet(result["out"])
                .select("url", F.md5(F.encode("extracted_text", "utf-8")))
                .collect())
        problems += compare_rows("extract_stored text md5",
                                 [tuple(r) for r in rows],
                                 list(self.fx.expected_md5.items()))
        lin = spark.read.parquet(result["lineage"]).agg(
            F.sum("n_rows"), F.sum("n_ok")).first()
        if (lin[0], lin[1]) != (self.fx.n_pages, self.fx.n_identical):
            problems.append(f"extract_stored: lineage counts {tuple(lin)}")
        return problems

    def details(self, results: list) -> dict:
        rates = [r["byte_identical_rate"] for r in results
                 if "byte_identical_rate" in r]
        return {
            "byte_identical_rate": rates[-1] if rates else None,
            "generated_identical_rate": self.fx.n_identical / self.fx.n_pages,
            "heavy_pages": self.fx.n_heavy,
        }

    def traced(self, spark, tr: Tracer) -> tuple[dict, list[str]]:
        from docling_eval_spark.operators.lineage import append_lineage
        from docling_eval_spark.operators.resume import resume_filter
        from docling_eval_spark.operators.skew import size_balanced_repartition
        from docling_eval_spark.extraction.extract import extract_pages
        from docling_eval_spark.plans.pipeline import score_extractions

        out, lineage = self._dirs("traced")
        with tr.span(self.name):
            with tr.span("sources.scan"):
                pages = spark.read.parquet(self.fx.path).persist()
                scan = _layer_totals(pages)
            with tr.span("resume"):
                todo = resume_filter(pages, spark, out, key="url").persist()
                run_plan(todo)
            with tr.span("skew"):
                balanced = size_balanced_repartition(todo, self.n_parts).persist()
                skew = _layer_totals(balanced)
            with tr.span("extraction"):
                ext = extract_pages(balanced).persist()
                extm = _layer_totals(ext)
            with tr.span("score"):
                scored = score_extractions(ext).persist()
                scorem = _layer_totals(scored)
            cols = [c for c in scored.columns if c not in ("spans", "tables")]
            with tr.span("write"):
                scored.select(*cols).write.mode("append").parquet(out)
            with tr.span("lineage"):
                append_lineage(scored.select(*cols), "bench-traced", lineage)
            with tr.span("job.summary"):
                committed = spark.read.parquet(out)
                committed.count()
                committed.where("byte_identical").count()

        n_splits = pages.rdd.getNumPartitions()
        split_mb = _partition_mb(pages, "html", n_splits)
        part_mb = _partition_mb(balanced, "html", self.n_parts)
        from docling_eval_spark.functions.text_metrics import word_tokenize

        pairs = scored.select("extracted_text", "text", "byte_identical").collect()
        fast = sum(1 for p, t, ok in pairs if ok and len(word_tokenize(t)) >= 4)
        out_mb = sum(os.path.getsize(os.path.join(d, f))
                     for d, _, fs in os.walk(out) for f in fs
                     if f.endswith(".parquet")) / MB
        for df in (scored, ext, balanced, todo, pages):
            df.unpersist()

        # kernels, single-threaded in this process on a fixed seeded sample
        from docling_eval_spark.extraction.boilerplate import extract_main_text
        from docling_eval_spark.functions.text_metrics import cer, score_text_pair

        rng = np.random.default_rng(self.seed)
        stored = pq.read_table(self.fx.path, columns=["url", "html"]).to_pydict()
        light = [h.decode() for u, h in zip(stored["url"], stored["html"])
                 if u not in self.fx.heavy_urls]
        heavy = [h.decode() for u, h in zip(stored["url"], stored["html"])
                 if u in self.fx.heavy_urls]
        light = [light[k] for k in rng.choice(len(light), 40, replace=False)]
        slow = [(p, t) for p, t, ok in pairs if not ok][:40]

        def score_slow(pt):
            score_text_pair(*pt)
            cer(*pt)

        return {
            "sources.scan_s": tr.self_time("sources.scan"),
            "sources.scan_mb": scan.get("scanFilesSize", 0) / MB,
            "sources.input_splits": float(n_splits),
            "sources.split_mb_max_over_mean": _max_over_mean(split_mb),
            "resume.s": tr.self_time("resume"),
            "skew.s": tr.self_time("skew"),
            "skew.shuffle_write_mb": skew.get("shuffleBytesWritten", 0) / MB,
            "skew.partition_mb_max_over_mean": _max_over_mean(part_mb),
            "extraction.s": tr.self_time("extraction"),
            "extraction.ms_per_doc": _ms_per_item(extract_main_text, light),
            "extraction.heavy_ms_per_doc": _ms_per_item(extract_main_text, heavy[:5]),
            "score.s": tr.self_time("score"),
            "score.fastpath_ratio": fast / len(pairs),
            "score.slow_ms_per_doc": _ms_per_item(score_slow, slow),
            "write.s": tr.self_time("write"),
            "write.output_mb": out_mb,
            "lineage.s": tr.self_time("lineage"),
            "job.summary_s": tr.self_time("job.summary"),
            **_arrow_metrics([extm, scorem]),
        }, []


# -- eval_suite ----------------------------------------------------------------


def _repo_session_confs(work: str, cores: int) -> dict:
    """The repo's own session (session.get_spark + DEFAULT_CONFS), sized
    for this host as bench.py sizes it: one shuffle partition per core,
    and Spark's default 1 GB JVM heap."""
    confs = _spark_env_confs(work, cores)
    confs.pop("spark.master")
    confs["spark.sql.shuffle.partitions"] = str(cores)
    confs["spark.driver.memory"] = "1g"
    return confs


class EvalSuite(Workload):
    """TEDS, corpus mAP, reading order and page OCR scoring over a seeded
    documents table in an sf-style directory. Its traced run also traces
    and checks the curation tier over the same documents."""

    name = "eval_suite"
    n_docs = 400

    def start_session(self):
        from docling_eval_spark.session import get_spark

        return get_spark(f"perfbench-{self.name}", master=f"local[{self.cores}]",
                         extra_confs=_repo_session_confs(self.work, self.cores))

    def prepare(self, spark) -> None:
        self.sf = os.path.join(self.data, "sf")
        self.docs = fixtures.make_documents(self.seed, self.n_docs)
        fixtures.write_documents(self.docs, self.sf)

    def expect(self) -> None:
        self.want = _oracles(self.docs, "teds_tables_identity", "layout_corpus_map",
                             "reading_order_ard", "ocr_page_cer")

    def run_once(self, spark, i):
        from docling_eval_spark.plans.layout_eval import corpus_map
        from docling_eval_spark.plans.ocr_eval import page_ocr_scores
        from docling_eval_spark.plans.reading_order_eval import reading_order_scores
        from docling_eval_spark.plans.table_eval import teds_rollup, teds_scores

        scores = teds_scores(spark, self.sf, n_partitions=self.n_parts).persist()
        teds = scores.select("doc_id", "teds", "teds_struct").collect()
        roll = teds_rollup(scores).first()
        scores.unpersist()
        m = corpus_map(spark, self.sf, n_partitions=self.n_parts, modes=(0, 1))
        cmap = m.select("map", "map_50", "map_75").collect()
        m.unpersist()
        ro = reading_order_scores(spark, self.sf, n_partitions=self.n_parts).select(
            "doc_id", "ard_norm", "w_ard_norm").collect()
        ocr = page_ocr_scores(spark, self.sf, n_partitions=self.n_parts).select(
            "doc_id", "page_no", "mode", "cer", "char_accuracy").collect()
        return {"teds": teds, "teds_rollup": roll, "map": cmap, "ro": ro, "ocr": ocr}

    def check(self, spark, r) -> list[str]:
        t = lambda rows: [tuple(x) for x in rows]  # noqa: E731
        p = compare_rows("teds_tables_identity", t(r["teds"]),
                         self.want["teds_tables_identity"])
        p += compare_rows("layout_corpus_map", t(r["map"]),
                          self.want["layout_corpus_map"], n_key=0)
        p += compare_rows("reading_order_ard", t(r["ro"]),
                          self.want["reading_order_ard"])
        p += compare_rows("ocr_page_cer", t(r["ocr"]),
                          self.want["ocr_page_cer"], n_key=2)
        roll = r["teds_rollup"]
        if roll["total"] != len(self.want["teds_tables_identity"]) \
                or abs(roll["teds_mean"] - 1.0) > TOL:
            p.append(f"teds_rollup: {roll.asDict()}")
        return p

    def traced(self, spark, tr: Tracer) -> tuple[dict, list[str]]:
        from docling_eval_spark.corpus.html_synth import gt_table_html
        from docling_eval_spark.corpus.layout_synth import gt_page, pred_page
        from docling_eval_spark.functions.layout_metrics import image_map
        from docling_eval_spark.functions.reading_order import (
            ard_norm, predict_reading_order)
        from docling_eval_spark.functions.teds import (
            html_table_to_grid_cells, is_complex_table, table_shape, teds_score)
        from docling_eval_spark.functions.text_metrics import cer
        from docling_eval_spark.plans.layout_eval import corpus_map
        from docling_eval_spark.plans.ocr_eval import page_ocr_scores
        from docling_eval_spark.plans.reading_order_eval import reading_order_scores
        from docling_eval_spark.plans.table_eval import teds_rollup, teds_scores

        with tr.span(self.name):
            src = _scan_probe(spark, tr, os.path.join(self.sf, "documents.parquet"))
            with tr.span("teds"):
                scores = teds_scores(spark, self.sf,
                                     n_partitions=self.n_parts).persist()
                tm = _layer_totals(scores)
                teds_rollup(scores).first()
                scores.unpersist()
            with tr.span("layout.map"):
                m = corpus_map(spark, self.sf, n_partitions=self.n_parts,
                               modes=(0, 1))
                m.first()
                m.unpersist()
            with tr.span("reading_order"):
                rm = totals(plan_nodes(run_plan(reading_order_scores(
                    spark, self.sf, n_partitions=self.n_parts))))
            with tr.span("ocr"):
                om = totals(plan_nodes(run_plan(page_ocr_scores(
                    spark, self.sf, n_partitions=self.n_parts))))

        rng = np.random.default_rng(self.seed)
        ids = [int(x) for x in rng.choice(self.docs["doc_id"].to_numpy(), 60,
                                          replace=False)]
        tables = [gt_table_html(d - d % 5) for d in ids[:30]]

        def teds_doc(gt):  # the per-table work of plans.table_eval
            for h in (gt, gt):
                table_shape(html_table_to_grid_cells(h))
            is_complex_table(html_table_to_grid_cells(gt))
            teds_score(gt, gt)
            teds_score(gt, gt, structure_only=True)

        def map_page(d):
            gb, gl = gt_page(d)
            pb, pl, ps = pred_page(d)
            image_map(pb, pl, ps, gb, gl)

        def ro_doc(d):
            boxes = pred_page(d)[0]
            perm = np.random.RandomState(d % (2**31)).permutation(len(boxes))
            order = predict_reading_order(boxes[perm])
            rank = np.empty(len(boxes), dtype=np.int64)
            rank[perm[order]] = np.arange(len(boxes))
            ard_norm(rank, (boxes[:, 2] - boxes[:, 0]) * (boxes[:, 3] - boxes[:, 1]))

        texts = dict(zip(self.docs["doc_id"].to_pylist(),
                         self.docs["text"].to_pylist()))
        pages = []
        for d in ids:
            toks = texts[d].split()
            for k in range(0, len(toks), 25):
                gt = " ".join(toks[k:k + 25])
                pages.append((gt[1:], gt))  # one edit, as in a degraded page

        metrics = {
            **src,
            "teds.s": tr.self_time("teds"),
            "teds.ms_per_table": _ms_per_item(teds_doc, tables),
            "layout.map_s": tr.self_time("layout.map"),
            "layout.ms_per_page": _ms_per_item(map_page, ids),
            "reading_order.s": tr.self_time("reading_order"),
            "reading_order.ms_per_doc": _ms_per_item(ro_doc, ids),
            "ocr.s": tr.self_time("ocr"),
            "ocr.ms_per_page": _ms_per_item(lambda pg: cer(*pg), pages),
            **_arrow_metrics([tm, rm, om]),
        }
        curation, problems = self._traced_curation(spark, tr)
        return {**metrics, **curation}, problems

    GOPHER_COLS = ("doc_id", "n_words", "mean_word_len", "alpha_word_frac",
                   "n_stop", "symbol_ratio", "flag_word_count", "flag_word_len",
                   "flag_symbol", "flag_alpha", "flag_stop", "gopher_pass")

    def _traced_curation(self, spark, tr: Tracer) -> tuple[dict, list[str]]:
        """webtext.* and dedup.*: Gopher quality flags, then over the
        passing documents corpus line dedup of 3-word lines and MinHash-LSH
        near dedup of with_near_dups(passing). Checked against the
        gopher_quality, webtext_line_dedup and near_dedup_kept oracles."""
        import pyarrow as pa
        from pyspark.sql import functions as F

        from docling_eval_spark.operators.caching import release_caches
        from docling_eval_spark.operators.dedup import (
            exact_dedup, minhash_lsh_candidates, minhash_signatures,
            near_dedup, ngram_jaccard_verify, with_near_dups)
        from docling_eval_spark.operators.webtext import (
            corpus_line_dedup, with_gopher_quality, with_word_lines)

        t = lambda rows: [tuple(x) for x in rows]  # noqa: E731
        want = _oracles(self.docs, "gopher_quality")
        passing_ids = {r[0] for r in want["gopher_quality"] if r[-1]}
        keep = pa.array([d in passing_ids for d in self.docs["doc_id"].to_pylist()])
        want.update(_oracles(self.docs.filter(keep),
                             "webtext_line_dedup", "near_dedup_kept"))

        docs = spark.read.parquet(
            os.path.join(self.sf, "documents.parquet")).select("doc_id", "text")
        with tr.span("curation"):
            with tr.span("webtext.gopher"):
                gop = with_gopher_quality(docs, min_words=20).persist()
                run_plan(gop)
            problems = compare_rows("gopher_quality",
                                    t(gop.select(*self.GOPHER_COLS).collect()),
                                    want["gopher_quality"])
            passing = gop.where("gopher_pass").select("doc_id", "text")
            with tr.span("webtext.line_dedup"):
                ld = corpus_line_dedup(with_word_lines(passing, words_per_line=3),
                                       key="doc_id", text_col="text_lines")
                run_plan(ld)
            problems += compare_rows(
                "webtext_line_dedup",
                t(ld.select("doc_id", "n_lines", "n_kept", F.md5("text")).collect()),
                want["webtext_line_dedup"])
            n_lines, n_kept = ld.agg(F.sum("n_lines"), F.sum("n_kept")).first()
            release_caches(ld)
            corpus = with_near_dups(passing).repartition(
                spark.sparkContext.defaultParallelism,
                F.xxhash64("doc_id", F.lit(0x5EED))).persist()
            run_plan(corpus)
            with tr.span("dedup"):
                kept = near_dedup(corpus, threshold=0.8, max_bucket_size=1000)
            problems += compare_rows("near_dedup_kept",
                                     t(kept.select("doc_id").collect()),
                                     want["near_dedup_kept"])
            kept.unpersist()
            # the same pipeline step by step, for its counts
            with tr.span("dedup.steps"):
                reps = exact_dedup(corpus).persist()
                sigs = minhash_signatures(reps).persist()
                run_plan(sigs)
                cands = minhash_lsh_candidates(sigs, max_bucket_size=1000).persist()
                n_cand = cands.count()
                n_ver = ngram_jaccard_verify(reps, cands, threshold=0.8).count()
                for df in (cands, sigs, reps):
                    df.unpersist()

        # the minhash kernel is a closure inside minhash_signatures: time
        # it in one Spark task over a fixed sample (warm worker, 2nd pass)
        sample = corpus.orderBy("doc_id").limit(300).coalesce(1).persist()
        n_sample = sample.count()
        per = []
        for _ in range(3):
            t0 = time.perf_counter()
            run_plan(minhash_signatures(sample))
            per.append((time.perf_counter() - t0) / n_sample * 1e3)
        sample.unpersist()
        corpus.unpersist()
        gop.unpersist()
        return {
            "webtext.gopher_s": tr.self_time("webtext.gopher"),
            "webtext.line_dedup_s": tr.self_time("webtext.line_dedup"),
            "webtext.lines_kept_ratio": n_kept / n_lines,
            "dedup.s": tr.self_time("dedup"),
            "dedup.minhash_ms_per_doc": min(per[1:]),
            "dedup.candidate_pairs": float(n_cand),
            "dedup.verify_yield": n_ver / n_cand if n_cand else 0.0,
        }, problems


WORKLOADS = {w.name: w for w in (ExtractStored, EvalSuite)}
