"""Workloads ``corpus_extract`` and ``corpus_bucketed``: Spark corpus jobs.

Both read the same derived interleaved corpus (``derived.materialize_corpus``
over a 500-document table generated from the seed) and end in the same
sink: ``pipeline.assemble_spans`` written as parquet.

- ``corpus_extract``: ``pipeline.ocr_documents(spark, docs, media)``, the
  path of the CLI corpus mode, streaming and lineage resume; the PNG
  payload crosses a hash exchange into ``defaultParallelism x 4`` tasks.
- ``corpus_bucketed``: ``derived.ocr_production_bucketed``, the job behind
  the repository's bench scripts; media is read in 128-bucket layout and
  only the light refs shuffle, but the OCR stage has ~129 small tasks.

One job at a time from one driver (a closed loop).  Every output is
checked against ``queries.ORACLE_OCR_EXTRACT`` run in DuckDB.
"""

from __future__ import annotations

import functools
import inspect
import json
import random
import shutil
import statistics
import time
from dataclasses import dataclass
from pathlib import Path

import pandas as pd

from .common import (
    WORK,
    PeakRss,
    log,
    nproc,
    percentile,
    reap_children,
    sha256_of,
    tail_percentile,
)

N_DOCS = 500
WORDS_MIN, WORDS_MAX = 10, 99
# the word pool of the sf0.01 driver documents table: every word renders
# and recognizes exactly in the fixture font
VOCAB = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
GEN_VERSION = "g1"  # bump when the document generator changes
SETUP_REPEATS = 3
API_SAMPLE = 200  # corpus pages timed through TessBaseAPI for page_ms_*
OVERHEAD_PAGES = 200  # traced-vs-untraced pairs in the traced run


@dataclass
class Corpus:
    sf_dir: str  # holds documents.parquet, the program's corpus input
    docs_path: str
    media_path: str
    n_docs: int
    n_pages: int
    digest: str


# ---- inputs --------------------------------------------------------------

def write_documents(seed: int, path: Path) -> list[dict]:
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(seed)
    rows = []
    for d in range(N_DOCS):
        text = " ".join(rng.choice(VOCAB) for _ in range(rng.randint(WORDS_MIN, WORDS_MAX)))
        rows.append({"doc_id": d, "text": text, "lang": "en",
                     "source": f"src{d % 20}", "n_chars": len(text)})
    path.parent.mkdir(parents=True, exist_ok=True)
    pq.write_table(pa.Table.from_pylist(rows), str(path))
    return rows


def _pin_cache_root(cache_root: str) -> None:
    """materialize_corpus_bucketed, which ocr_production_bucketed calls,
    defaults its cache to a fixed absolute path; point it at this
    checkout's work directory instead."""
    from tesseract_spark import derived

    fn = derived.materialize_corpus_bucketed
    orig = getattr(fn, "func", fn)
    if "cache_root" in inspect.signature(orig).parameters:
        derived.materialize_corpus_bucketed = functools.partial(orig, cache_root=cache_root)


def prepare(spark, seed: int, workload: str) -> Corpus:
    """Generate the seed's documents table and materialize the derived
    corpus (and, for corpus_bucketed, its bucketed media table) before
    any timing.  Built once per seed and generator version in the
    checkout's work directory; every later run only reads it."""
    from tesseract_spark import derived

    base = WORK / "corpus" / f"{GEN_VERSION}-seed{seed}"
    # the directory name becomes part of a catalog table name
    sf_dir = base / f"sf0_01_s{seed}"
    cache_root = base / "derived"
    done = base / "_PREPARED.json"
    bucketed_done = base / "_BUCKETED"
    _pin_cache_root(str(cache_root))
    if not done.exists():
        shutil.rmtree(base, ignore_errors=True)
        write_documents(seed, sf_dir / "documents.parquet")
    if workload == "corpus_bucketed" and not bucketed_done.exists():
        derived.materialize_corpus_bucketed(spark, str(sf_dir))
        bucketed_done.write_text("built\n")
    docs_path, media_path = derived.materialize_corpus(
        spark, str(sf_dir), cache_root=str(cache_root)
    )
    if not done.exists():
        import pyarrow.parquet as pq

        docs = pq.read_table(str(sf_dir / "documents.parquet")).to_pandas()
        media = pq.read_table(media_path).to_pandas().sort_values("media_ref")
        digest = sha256_of(
            [f"{d}\t{t}\n" for d, t in zip(docs.doc_id, docs.text)]
            + [r.encode() + bytes(p) for r, p in zip(media.media_ref, media.png)]
        )
        done.write_text(json.dumps({"pages": len(media), "docs": len(docs), "sha256": digest}))
    meta = json.loads(done.read_text())
    return Corpus(str(sf_dir), docs_path, media_path,
                  meta["docs"], meta["pages"], meta["sha256"])


# ---- Spark session ---------------------------------------------------------

def spark_conf(event_log: Path | None) -> dict[str, str]:
    n = nproc()
    tmp = str(WORK / "tmp")
    conf = {
        "spark.master": f"local[{n}]",
        "spark.app.name": "perfbench",
        "spark.sql.shuffle.partitions": str(2 * n),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "256",
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        # the box has 15 GB shared with other tenants
        "spark.driver.memory": "4g",
        "spark.local.dir": tmp,
        "spark.sql.warehouse.dir": str(WORK / "warehouse"),
        # a fixed young generation: with adaptive sizing the JVM's
        # resident heap wandered 1.9-3.1 GB between identical runs;
        # no perf-data file, which HotSpot writes to /tmp
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Xmn512m -XX:-UsePerfData",
        "spark.python.worker.reuse": "true",
        "spark.eventLog.enabled": "false",
    }
    if event_log is not None:
        event_log.mkdir(parents=True, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": str(event_log),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def start_session(event_log: Path | None = None):
    from pyspark.sql import SparkSession

    builder = SparkSession.Builder()
    for k, v in spark_conf(event_log).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _warm_batches(batches):
    """Every Python worker imports the engine and loads the template net."""
    import tesseract_spark.operators.recognize  # noqa: F401
    from tesseract_spark.lstm.templates import get_net

    get_net()
    for b in batches:
        yield pd.DataFrame({"x": [len(b)]})


def _noop_batches(batches):
    for b in batches:
        yield b


def warm_workers(spark) -> None:
    n = nproc()
    spark.range(n).repartition(n).mapInPandas(_warm_batches, "x long").count()


def register(spark, workload: str, corpus: Corpus):
    """Corpus table registration: the bucketed media table goes into the
    (fresh, in-memory) catalog; the plain corpus is opened as parquet."""
    from tesseract_spark import derived

    if workload == "corpus_bucketed":
        derived.materialize_corpus_bucketed(spark, corpus.sf_dir)
    spark.read.parquet(corpus.docs_path).schema
    spark.read.parquet(corpus.media_path).schema


def setup(workload: str, seed: int, event_log: Path | None = None):
    """One full set-up: session start, worker warm, TessBaseAPI.Init and
    corpus table registration.  Input preparation runs inside it but is
    not part of the set-up time (it builds the corpus once per seed and
    afterwards only reads its manifest)."""
    from tesseract_spark.api import TessBaseAPI
    from tesseract_spark.lstm.templates import get_net

    t0 = time.perf_counter()
    spark = start_session(event_log)
    t1 = time.perf_counter()
    corpus = prepare(spark, seed, workload)
    t2 = time.perf_counter()
    warm_workers(spark)
    api = TessBaseAPI()
    if api.Init() != 0:
        raise RuntimeError("TessBaseAPI.Init failed")
    get_net()
    register(spark, workload, corpus)
    return spark, api, corpus, (t1 - t0) + (time.perf_counter() - t2), t2 - t1


# ---- the measured job ----------------------------------------------------

def job(spark, workload: str, corpus: Corpus):
    from tesseract_spark import derived, pipeline

    if workload == "corpus_extract":
        docs = spark.read.parquet(corpus.docs_path)
        media = spark.read.parquet(corpus.media_path)
        flat = pipeline.ocr_documents(spark, docs, media)
    else:
        flat = derived.ocr_production_bucketed(spark, corpus.sf_dir)
    return pipeline.assemble_spans(flat)


def one_pass(spark, workload: str, corpus: Corpus, sink: Path, phase: str) -> float:
    """Job submit to sink commit."""
    spark.sparkContext.setLocalProperty("perfbench.phase", phase)
    t0 = time.perf_counter()
    job(spark, workload, corpus).write.mode("overwrite").parquet(str(sink))
    wall = time.perf_counter() - t0
    spark.sparkContext.setLocalProperty("perfbench.phase", None)
    return wall


def _sql_str(path: Path) -> str:
    return "'" + str(path).replace("'", "''") + "'"


def check_output(corpus: Corpus, sink: Path) -> dict:
    """Documents whose (kind, text, media_ref, offset) spans equal the
    oracle's, and pages that came back as the failure marker.  After
    assemble_spans the marker is a media span with no text; the corpus
    has no photos, so a page that succeeded never yields one."""
    import duckdb

    from tesseract_spark.queries import ORACLE_OCR_EXTRACT

    con = duckdb.connect()
    try:
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM read_parquet("
            f"{_sql_str(Path(corpus.sf_dir) / 'documents.parquet')})"
        )
        con.execute(
            "CREATE VIEW got AS SELECT CAST(doc_id AS BIGINT) AS doc_id, "
            's.kind AS kind, s.text AS text, s.media_ref AS media_ref, '
            's."offset" AS "offset" FROM (SELECT doc_id, unnest(spans) AS s '
            f"FROM read_parquet({_sql_str(sink / '*.parquet')}))"
        )
        con.execute(f"CREATE VIEW oracle AS {ORACLE_OCR_EXTRACT}")
        cols = 'doc_id, "offset", kind, text, media_ref'
        bad = [r[0] for r in con.execute(
            f"SELECT DISTINCT doc_id FROM ((SELECT {cols} FROM oracle EXCEPT ALL "
            f"SELECT {cols} FROM got) UNION ALL (SELECT {cols} FROM got "
            f"EXCEPT ALL SELECT {cols} FROM oracle)) ORDER BY doc_id"
        ).fetchall()]
        n_docs = con.execute("SELECT count(DISTINCT doc_id) FROM oracle").fetchone()[0]
        markers = con.execute(
            "SELECT count(*) FROM got WHERE kind = 'media' AND text IS NULL"
        ).fetchone()[0]
    finally:
        con.close()
    return {"bad_docs": bad, "n_docs": n_docs, "markers": markers}


def api_sample(corpus: Corpus, seed: int) -> list[bytes]:
    import pyarrow.parquet as pq

    media = pq.read_table(corpus.media_path, columns=["media_ref", "png"]).to_pandas()
    media = media.sort_values("media_ref")
    pngs = [bytes(p) for p in media.png]
    return random.Random(seed).sample(pngs, min(API_SAMPLE, len(pngs)))


def api_latency_ms(api, pngs: list[bytes]) -> list[float]:
    out = []
    for png in pngs:
        t0 = time.perf_counter()
        api.SetImage(png)
        api.GetUTF8Text()
        out.append(1000.0 * (time.perf_counter() - t0))
    return sorted(out)


# ---- runs ------------------------------------------------------------------

def run(workload: str, seed: int, seconds: float, trace: bool, report) -> dict:
    out_dir = WORK / "out" / workload
    out_dir.mkdir(parents=True, exist_ok=True)
    sink = out_dir / "sink"

    event_log = None
    if trace:
        event_log = WORK / "eventlog" / f"{workload}-{seed}-{time.time_ns()}"
    # the first set-up also launches the JVM (and builds the inputs on a
    # seed's first run, untimed); the median of three is a warm-JVM set-up
    setups = []
    try:
        for i in range(SETUP_REPEATS):
            last = i == SETUP_REPEATS - 1
            spark, api, corpus, dt, prep = setup(workload, seed, event_log if last else None)
            setups.append(dt)
            if i == 0:
                report("prepare_s", prep)
            if not last:
                spark.stop()
        report("setup_runs_s", setups)
        report("inputs_sha256", corpus.digest)
        report("corpus", {"docs": corpus.n_docs, "pages": corpus.n_pages})
        # a fresh session's first pass runs 15-30% slow (JIT, codegen)
        report("warm_pass_s", one_pass(spark, workload, corpus, sink, "warm"))
        if trace:
            return _traced(spark, workload, corpus, sink, event_log)
        return _timed(spark, api, workload, corpus, sink, seed, seconds, setups, report)
    finally:
        stop_jvm()


def stop_jvm() -> None:
    """End the JVM this process launched (it exits when its stdin
    closes) and wait for it and everything it started."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
    reap_children()


def _timed(spark, api, workload, corpus, sink, seed, seconds, setups, report) -> dict:
    walls, checks = [], []
    with PeakRss() as rss:
        t_start = time.perf_counter()
        while True:
            walls.append(one_pass(spark, workload, corpus, sink, "timed"))
            checks.append(check_output(corpus, sink))
            elapsed = time.perf_counter() - t_start
            # another pass only if it ends nearer to `seconds` than stopping now
            if elapsed + walls[-1] / 2 >= seconds:
                break
    # single-page latency on this corpus's pages, with the Spark session
    # and its Python workers gone
    spark.stop()
    lat = api_latency_ms(api, api_sample(corpus, seed))
    tail_p = tail_percentile(len(lat))
    bad = sorted({d for c in checks for d in c["bad_docs"]})
    markers = sum(c["markers"] for c in checks)
    attempted = corpus.n_pages * len(walls)
    if bad:
        log(f"{workload}: {len(bad)} documents differ from ORACLE_OCR_EXTRACT: {bad}")
    report("passes_s", walls)
    report("page_ms_tail_percentile", tail_p)
    report("page_samples", len(lat))
    wall = statistics.median(walls)
    return {
        "attempted": attempted,
        "failed": markers,
        "correct": not bad,
        "metrics": {
            "setup_s": statistics.median(setups),
            "wall_s": wall,
            "docs_per_s": corpus.n_docs / wall,
            "pages_per_s": corpus.n_pages / wall,
            "page_ms_p50": percentile(lat, 50.0),
            "page_ms_tail": percentile(lat, tail_p),
            "peak_rss_mb": rss.mb,
            "ok_share": (attempted - markers) / attempted,
            "exact_share": min(1.0 - len(c["bad_docs"]) / c["n_docs"] for c in checks),
        },
    }


class _UdfMeter:
    """Wraps the pipeline's page UDF so that each task adds its page
    count and the sum of the pipeline's own per-page ``wall_ms`` to two
    accumulators.  The plan is unchanged."""

    def __init__(self, spark) -> None:
        from tesseract_spark import pipeline

        self.pages = spark.sparkContext.accumulator(0)
        self.page_ms = spark.sparkContext.accumulator(0.0)
        self._pipeline = pipeline
        self._orig = getattr(pipeline, "_make_ocr_udf", None)

    def __enter__(self) -> "_UdfMeter":
        if self._orig is None:
            return self
        orig, pages, page_ms = self._orig, self.pages, self.page_ms

        def metered_factory(*args, **kwargs):
            inner = orig(*args, **kwargs)

            def metered(batches):
                for out in inner(batches):
                    if len(out):
                        per_page = out.groupby(["doc_id", "pos"])["wall_ms"].sum()
                        pages.add(len(per_page))
                        page_ms.add(float(per_page.sum()))
                    yield out

            return metered

        self._pipeline._make_ocr_udf = metered_factory
        return self

    def __exit__(self, *exc) -> None:
        if self._orig is not None:
            self._pipeline._make_ocr_udf = self._orig

    @property
    def missing(self) -> bool:
        return self._orig is None


def _noop_calibration(spark) -> None:
    n = nproc()
    spark.sparkContext.setLocalProperty("perfbench.phase", "noop")
    spark.range(n * 8).repartition(n * 8).mapInPandas(_noop_batches, "id long").count()
    spark.sparkContext.setLocalProperty("perfbench.phase", None)


def _replay_pages(corpus: Corpus) -> tuple[dict, dict, object]:
    """Every media page of the corpus in-process through the UDF's own
    calls (decode_gray_pages -> recognize_page), traced, for the
    per-page layer split."""
    import pyarrow.parquet as pq

    from tesseract_spark.functions import image_codecs
    from tesseract_spark.lstm.templates import get_net
    from tesseract_spark.operators import recognize

    from .trace import PageTracer, page_layer_metrics, tracing_overhead

    media = pq.read_table(corpus.media_path).to_pandas().sort_values("media_ref")
    pages = [(bytes(p), int(d)) for p, d in zip(media.png, media.dpi)]
    net = get_net()

    def ocr(png, dpi):
        for img in image_codecs.decode_gray_pages(png):
            recognize.recognize_page(img, dpi, None, net)

    tracer = PageTracer()
    with tracer.hooks():
        t0 = time.perf_counter()
        for png, dpi in pages:
            with tracer.page():
                ocr(png, dpi)
        wall = time.perf_counter() - t0
    ledger = tracer.ledger(wall)
    metrics = page_layer_metrics(ledger)
    metrics["trace.overhead_share"] = tracing_overhead(
        lambda page: ocr(*page), pages[:OVERHEAD_PAGES]
    )
    return metrics, ledger, tracer


def _traced(spark, workload, corpus, sink, event_log) -> dict:
    from .sparklog import spark_layer_metrics

    _noop_calibration(spark)
    with _UdfMeter(spark) as meter:
        one_pass(spark, workload, corpus, sink, "traced")
    check = check_output(corpus, sink)
    spark.stop()  # closes the event log
    spark_metrics, stages = spark_layer_metrics(event_log, "traced", "noop")
    udf_pages = float(meter.pages.value)
    udf_page_s = meter.page_ms.value / 1000.0
    spark_metrics["udf.pages"] = udf_pages
    spark_metrics["udf.page_s"] = udf_page_s
    task_s = spark_metrics.get("spark.ocr.task_s", 0.0)
    spark_metrics["udf.useful_share"] = udf_page_s / task_s if task_s > 0 else 0.0
    page_metrics, ledger, tracer = _replay_pages(corpus)
    metrics = {**spark_metrics, **page_metrics}
    missing = list(ledger["missing"]) + (["udf:pipeline._make_ocr_udf"] if meter.missing else [])
    ledger["missing"] = missing
    bad = check["bad_docs"]
    if bad:
        log(f"{workload}: {len(bad)} documents differ from ORACLE_OCR_EXTRACT: {bad}")
    return {
        "attempted": corpus.n_pages,
        "failed": check["markers"],
        "correct": not bad,
        "metrics": metrics,
        "ledger": {"spark_stages": stages, "page_layers": ledger},
        "tracer": tracer,
    }
