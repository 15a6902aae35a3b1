"""The two workloads: an ingest, point reads, then a query set.

Each run ingests once (``fresh_build``: a uniform corpus into an empty
warehouse; ``incremental_zipf``: one held-out batch onto a copy of a seeded
Zipf warehouse) and runs the point-read mix against the warehouse it just
wrote. Then comes the workload's query set: the near-dup and text queries on
``fresh_build``, the graph analytics on ``incremental_zipf``. Output checks
run outside the timed sections, and every failed operation or check counts
in the tally.
"""

from __future__ import annotations

import functools
import hashlib
import json
import os
import random
import shutil
import statistics
import time
from collections import Counter
from contextlib import nullcontext

import pandas as pd

from . import inputs

# One query per operator module at least (text, dedup, similarity): the
# slowest of bench.py at sf0.1 (q_ngram_repetition), the LSH query the
# ROADMAP names as the next target and its exact twin, and top-k similarity.
# The other five near-dup queries are left out for run time (DESIGN.md).
NEARDUP_QUERIES = [
    "q_ngram_repetition", "q_embedding_neardup_lsh", "q_embedding_neardup",
    "q_ann_topk",
]
# approximate by design: the oracle holds the exact pairs
LSH_QUERIES = {"q_embedding_neardup_lsh"}
SETUP_REPEATS = 3
LOOKUP_KEYS = 8
WARMUP_CYCLES = 1
QUALITY_GATE = 0.95


class Run:
    """State of one benchmark invocation."""

    def __init__(self, spark, work: str, cache: str, seed: int,
                 seconds: float, tracer, tally) -> None:
        self.spark = spark
        self.work = work
        self.cache = cache
        self.seed = seed
        self.seconds = seconds
        self.tracer = tracer  # None when tracing is off
        self.tally = tally
        self.values: dict[str, float] = {}   # end-to-end metrics
        self.layer: dict[str, float] = {}    # extra per-layer values
        self.context: dict = {}
        # (docs, alias, pre-batch warehouse or None, index of the first new
        # doc or None): what the ingest's run_pipeline call was given
        self.ingest_inputs = None
        # vertices and triples as the ingest left them, read once for the
        # output checks
        self.tables: dict[str, pd.DataFrame] = {}

    def span(self, name: str, root: bool = False):
        if self.tracer is None:
            return nullcontext({"attrs": {}})
        return self.tracer.span(name, root=root)


# ---------------------------------------------------------------------------
# helpers
# ---------------------------------------------------------------------------

def _rows(pdf: pd.DataFrame, cols: list[str]) -> list[tuple]:
    """Order-free canonical rows: NaN -> None, floats as repr."""
    out = []
    for row in pdf[cols].itertuples(index=False, name=None):
        out.append(tuple(
            None if (isinstance(v, float) and v != v) or v is None
            else repr(float(v)) if isinstance(v, float) else str(v)
            for v in row))
    return out


def rowset_hash(pdf: pd.DataFrame) -> str:
    cols = sorted(pdf.columns)
    rows = sorted(_rows(pdf, cols), key=repr)
    return hashlib.sha256(repr((cols, rows)).encode()).hexdigest()


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _s, fs in os.walk(path) for f in fs)


def _paths(wh: str) -> dict[str, str]:
    from financial_knowledge_graphs_spark.pipeline import graph_paths

    return graph_paths(wh)


def _read_pd(spark, table_path: str) -> pd.DataFrame:
    from financial_knowledge_graphs_spark.operators import materialize

    return materialize.read_graph_table(spark, table_path).toPandas()


def _run_pipeline(spark, docs, alias, wh: str):
    from financial_knowledge_graphs_spark.pipeline import PipelineConfig, run_pipeline

    return run_pipeline(spark, docs, alias, PipelineConfig(warehouse=wh))


def _timed_setup(make) -> float:
    """Run a set-up step SETUP_REPEATS times; its median time."""
    times = []
    for _ in range(SETUP_REPEATS):
        t0 = time.perf_counter()
        make()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def _ingest(run: Run, docs, alias, wh: str):
    """One timed run_pipeline call; returns (seconds, result or None). On
    success, also reads the written vertices and triples (untimed)."""
    t0 = time.perf_counter()
    try:
        with run.span("pipeline.run", root=True):
            res = _run_pipeline(run.spark, docs, alias, wh)
    except Exception as e:  # noqa: BLE001 - a failed op is counted, not fatal
        run.tally.op("ingest", False, f"{type(e).__name__}: {e}")
        return time.perf_counter() - t0, None
    dt = time.perf_counter() - t0
    run.tables = {t: _read_pd(run.spark, _paths(wh)[t]) for t in ("vertices", "triples")}
    run.layer["trace.ingest_wall_s"] = dt
    for k, v in (res.extra.get("phase_seconds") or {}).items():
        run.layer[f"phase.{k}_s"] = float(v)
    return dt, res


# ---------------------------------------------------------------------------
# ingest workloads
# ---------------------------------------------------------------------------

def fresh_build(run: Run) -> str:
    """Ingest a uniform corpus into an empty warehouse; returns the warehouse."""
    spark = run.spark
    root = inputs.corpus(spark, run.cache, inputs.FRESH_DOCS, inputs.FRESH_SEED,
                         zipf=False)
    docs = spark.read.parquet(os.path.join(root, "documents"))
    alias = spark.read.parquet(os.path.join(root, "alias_dict"))
    wh = os.path.join(run.work, "warehouse")
    run.values["_op_setup_s"] = _timed_setup(lambda: inputs.fresh_path(wh))
    run.ingest_inputs = (docs, alias, None, None)
    dt, res = _ingest(run, docs, alias, wh)
    run.context["ingest_input"] = {"corpus": os.path.basename(root)}
    if res is not None:
        _record_ingest(run, wh, dt, inputs.FRESH_DOCS, res.docs_processed,
                       res.docs_processed)
        # name-level triples against the fixture ground truth, held to the
        # BASELINE.json quality gate (precision and recall >= 0.95) that
        # tests/test_pipeline_e2e.py applies to every seeded corpus
        got = run.tables["triples"]
        gt = pd.read_parquet(os.path.join(root, "gt_triples"))
        pred = Counter(_rows(got, ["doc_id", "subj_name", "pred", "obj_name",
                                   "valueAmount", "percentage", "transactionDate"]))
        want = Counter(_rows(gt, ["doc_id", "subj", "pred", "obj", "value_amount",
                                  "percentage", "transaction_date"]))
        hit = sum((pred & want).values())
        p_r = (hit / max(sum(pred.values()), 1), hit / max(sum(want.values()), 1))
        run.context["triples_precision_recall"] = p_r
        ok = min(p_r) >= QUALITY_GATE
        run.tally.op("ingest", ok, "" if ok else f"triples P/R {p_r} < {QUALITY_GATE}")
    return wh


def _zipf_base_path(cache: str) -> str:
    return inputs.code_keyed(
        cache,
        f"zipf_base_n{inputs.ZIPF_DOCS}_s{inputs.ZIPF_SEED}_b{inputs.BATCH_DOCS}"
        f"_p{inputs.PRIOR_BATCHES}")


def ensure_zipf_base(spark, cache: str) -> str:
    """Seeded Zipf warehouse (history + prior batches), and the row-set
    hashes of one single run over the same documents plus the held-out
    batch, which the batched result must equal."""
    path = _zipf_base_path(cache)
    if inputs.done(path):
        return path
    inputs.fresh_path(path)
    root = inputs.corpus(spark, cache, inputs.ZIPF_DOCS, inputs.ZIPF_SEED, zipf=True)
    docs = spark.read.parquet(os.path.join(root, "documents"))
    alias = spark.read.parquet(os.path.join(root, "alias_dict"))
    # the pipeline takes the corpus to date and skips checkpointed docs, so
    # corpus-level dedup sees every earlier document
    dg = inputs.position_col()
    wh = os.path.join(path, "warehouse")
    seeded_docs = _run_pipeline(
        spark, docs.filter(dg < inputs.history_end()), alias, wh).docs_processed
    for k in range(inputs.PRIOR_BATCHES):
        seeded_docs += _run_pipeline(
            spark, docs.filter(dg < inputs.batch_bounds(k)[1]), alias, wh).docs_processed
    ref = os.path.join(path, "reference")
    _run_pipeline(spark, docs, alias, ref)
    refs = {t: rowset_hash(_read_pd(spark, _paths(ref)[t]))
            for t in ("vertices", "triples")}
    shutil.rmtree(ref)
    with open(os.path.join(path, "references.json"), "w", encoding="utf-8") as fh:
        json.dump(dict(refs, seeded_docs=seeded_docs), fh)
    inputs.mark(path)
    return path


def incremental_zipf(run: Run) -> str:
    """Apply the held-out batch onto a copy of the seeded warehouse."""
    spark = run.spark
    base = ensure_zipf_base(spark, run.cache)
    root = inputs.corpus(spark, run.cache, inputs.ZIPF_DOCS, inputs.ZIPF_SEED, zipf=True)
    docs = spark.read.parquet(os.path.join(root, "documents"))
    alias = spark.read.parquet(os.path.join(root, "alias_dict"))
    lo, _hi = inputs.batch_bounds(inputs.PRIOR_BATCHES)
    wh = os.path.join(run.work, "warehouse")

    def copy_base():
        shutil.rmtree(wh, ignore_errors=True)
        shutil.copytree(os.path.join(base, "warehouse"), wh)

    run.values["_op_setup_s"] = _timed_setup(copy_base)
    with open(os.path.join(base, "references.json"), encoding="utf-8") as fh:
        refs = json.load(fh)
    run.ingest_inputs = (docs, alias, os.path.join(base, "warehouse"), lo)
    # the corpus to date is the whole corpus: the held-out batch is its tail
    dt, res = _ingest(run, docs, alias, wh)
    run.context["ingest_input"] = {"corpus": os.path.basename(root),
                                   "doc_index_range": [lo, inputs.ZIPF_DOCS]}
    if res is not None:
        # bytes per doc: all docs the warehouse holds (seeded + this batch)
        _record_ingest(run, wh, dt, inputs.BATCH_DOCS, res.docs_processed,
                       refs["seeded_docs"] + res.docs_processed)
        got = {t: rowset_hash(pdf) for t, pdf in run.tables.items()}
        ok = all(got[t] == refs[t] for t in got)
        run.tally.op("ingest", ok, "" if ok else "batched != single run")
    return wh


def _record_ingest(run: Run, wh: str, seconds: float, offered: int,
                   processed: int, docs_in_warehouse: int) -> None:
    """Ingest metrics. Throughput counts the docs offered to the pipeline:
    how many of them prep keeps differs between batches, and is recorded
    as context rather than mixed into the rate."""
    run.values["ingest_s"] = seconds
    run.values["ingest_docs_per_s"] = offered / seconds
    run.values["warehouse_bytes_per_doc"] = dir_bytes(wh) / max(docs_in_warehouse, 1)
    run.context["docs_offered"] = offered
    run.context["docs_processed"] = processed


# ---------------------------------------------------------------------------
# point reads
# ---------------------------------------------------------------------------

def point_reads(run: Run, wh: str) -> None:
    """Closed loop, one client: vertex lookups by key and pruned one-year
    range scans on triples, in turn. Lookups walk a pool of
    LOOKUP_KEYS keys spread evenly over the sorted ids, scans every year the
    triples hold; the seed orders both. Keys and years differ in cost (their
    buckets hold 1 to 3 files), so every run times the same pools: after
    WARMUP_CYCLES untimed cycles the loop runs for run.seconds, and on until
    each pool has been timed in full. Each result is checked against the
    same filter on the tables the ingest left."""
    from financial_knowledge_graphs_spark.operators import materialize

    from . import stats

    if not run.tables:
        run.tally.op("point_reads", False, "no tables: the ingest failed")
        return
    spark = run.spark
    p = _paths(wh)
    rng = random.Random(f"{run.seed}:reads")
    verts, trip = run.tables["vertices"], run.tables["triples"]
    ids = sorted(verts["entity_id"])
    n_keys = min(LOOKUP_KEYS, len(ids))
    eids = [ids[k * len(ids) // n_keys] for k in range(n_keys)]
    years = sorted({str(d)[:4] for d in trip["transactionDate"].dropna()})
    rng.shuffle(eids)
    rng.shuffle(years)
    min_samples = {"vertex": len(eids), "scan": len(years)}

    def lookup(i):
        eid = eids[i % len(eids)]
        got = materialize.lookup_by_key(spark, p["vertices"], ["entity_id"], (eid,)).toPandas()
        return eid, got

    def scan(i):
        y = years[i % len(years)]
        got = materialize.read_graph_table_pruned(
            spark, p["triples"], {"transactionDate": (f"{y}-01", f"{y}-12-31")}).toPandas()
        return y, got

    mix = [(lookup, "vertex"), (scan, "scan")]
    lat: dict[str, list[float]] = {kind: [] for kind in min_samples}
    issued = Counter()  # calls per kind: the index into its pool
    results = []
    t_end = None  # set after the untimed warm-up cycles

    def more() -> bool:
        if t_end is None or time.perf_counter() < t_end:
            return True
        return any(len(lat[k]) < n for k, n in min_samples.items())

    i = failed = 0
    while failed < 10 and more():
        if t_end is None and i == WARMUP_CYCLES * len(mix):
            t_end = time.perf_counter() + run.seconds
        op, kind = mix[i % len(mix)]
        issued[kind] += 1
        t0 = time.perf_counter()
        try:
            with run.span(f"read.mix_{op.__name__}"):
                arg, got = op(issued[kind] - 1)
        except Exception as e:  # noqa: BLE001
            run.tally.op(op.__name__, False, f"{type(e).__name__}: {e}")
            failed += 1
        else:
            if t_end is not None:
                lat[kind].append(time.perf_counter() - t0)
            results.append((kind, arg, got))
        i += 1

    for kind, arg, got in results:
        if kind == "vertex":
            want = verts[verts["entity_id"] == arg]
            cols = sorted(verts.columns)
        else:
            d = trip["transactionDate"]
            want = trip[d.notna() & (d >= f"{arg}-01") & (d <= f"{arg}-12-31")]
            cols = sorted(trip.columns)
        ok = Counter(_rows(got, cols)) == Counter(_rows(want, cols))
        run.tally.op(kind, ok, "" if ok else f"{kind} {arg!r} != filtered full read")

    # the lookup median is a per-layer metric: over 10 seeds in a busy
    # period its quartile spread (0.32) exceeded any allowed end-to-end bound
    out = {"vertex": (run.layer, "read.lookup_p50_ms"), "scan": (run.values, "scan_p50_ms")}
    for kind, vals in lat.items():
        s = stats.summarize(vals)
        run.context[f"{kind}_latency_ms"] = {
            k: (v * 1e3 if k != "n" else v) for k, v in s.items()}
        # a kind whose every read failed has no median; the run then counts
        # its metric as not measured
        if vals:
            values, name = out[kind]
            values[name] = statistics.median(vals) * 1e3


# ---------------------------------------------------------------------------
# query sets: each query once, collected to the client
# ---------------------------------------------------------------------------

def _time_queries(run: Run, queries: dict) -> dict:
    """Run each query once, collecting its result to the client. Sets
    ``queries_s`` to the sum of their times and returns the results. A
    query that raises counts as a failed operation."""
    results, times = {}, {}
    for name, make in queries.items():
        t0 = time.perf_counter()
        try:
            with run.span(f"query.{name}"):
                results[name] = make().toPandas()
        except Exception as e:  # noqa: BLE001
            run.tally.op(f"query.{name}", False, f"{type(e).__name__}: {e}")
            continue
        times[name] = time.perf_counter() - t0
    run.context["query_s"] = times
    run.values["queries_s"] = sum(times.values())
    return results


def graph_analytics(run: Run, wh: str) -> None:
    """The analytic set over the triples table the ingest wrote."""
    from financial_knowledge_graphs_spark.operators import graph, materialize

    triples = materialize.read_graph_table(run.spark, _paths(wh)["triples"])
    edges = graph.edge_list(triples)
    done = _time_queries(run, {
        "degree": lambda: graph.degree_table(triples),
        "two_hop": lambda: graph.two_hop(triples),
        "comention": lambda: graph.comention_edges(triples),
        "wcc": lambda: graph.weakly_connected_components(edges),
    })
    # no oracle: the run checks only that each query completes
    for name in done:
        run.tally.op(f"graph.{name}", True)


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    """Order- and type-insensitive frame for engine-to-engine comparison."""
    df = df.reindex(sorted(df.columns), axis=1).copy()
    for c in df.columns:
        if pd.api.types.is_numeric_dtype(df[c]):
            df[c] = df[c].astype("float64")
        else:
            df[c] = df[c].map(lambda v: None if v is None else str(v))
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def neardup_suite(run: Run, wh: str) -> None:
    """The near-dup and text queries over seed-generated documents and
    embeddings tables (``wh`` is not read); then each result is compared
    with its DuckDB oracle."""
    import duckdb

    import __spark_entry__ as entry

    d = inputs.neardup_tables(run.cache, run.seed)
    qs = entry.queries()
    results = _time_queries(
        run, {q: functools.partial(qs[q], run.spark, d) for q in NEARDUP_QUERIES})

    oracles = entry.oracle_sql()
    con = duckdb.connect()
    try:
        for t in ("documents", "embeddings"):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{os.path.join(d, t + '.parquet')}'")
        for name, got in results.items():
            a, b = _canon(got), _canon(con.sql(oracles[name]).df())
            if name in LSH_QUERIES:
                # LSH may miss a true pair but verifies every candidate, so
                # each returned row must be an exact oracle row
                found = len(a.merge(b)) if list(a.columns) == list(b.columns) else -1
                ok = found == len(a)
                run.context.setdefault("lsh_recall", {})[name] = found / max(len(b), 1)
            else:
                ok = list(a.columns) == list(b.columns) and len(a) == len(b) and a.equals(b)
            run.tally.op(name, ok, "" if ok else f"!= oracle ({len(a)} vs {len(b)} rows)")
            run.context.setdefault("neardup_rows", {})[name] = len(a)
    finally:
        con.close()


# workload -> (ingest, query set); point_reads runs between the two
WORKLOADS = {"fresh_build": (fresh_build, neardup_suite),
             "incremental_zipf": (incremental_zipf, graph_analytics)}
# lazy layers whose plans run_pipeline's own actions execute, outside every
# layer span: prep and extraction in the extraction count, and on the
# incremental path the linking updates in their count. The full path's
# linking runs in connected_components, a span of its own.
ROOT_RUN_LAYERS = {"fresh_build": ("prep", "extract"),
                   "incremental_zipf": ("prep", "extract", "link")}


def inputs_ready(cache: str) -> bool:
    """True when every workload's ingest inputs are cached for this code."""
    return inputs.done(_zipf_base_path(cache)) and inputs.done(
        inputs.corpus_path(cache, inputs.FRESH_DOCS, inputs.FRESH_SEED, zipf=False))


def prepare_inputs(spark, cache: str) -> None:
    """Build every workload's ingest inputs. The benchmark does this in a
    process of its own, so a measured run's JVM never first runs the
    pipelines that build the seeded warehouse, whether the cache was warm
    or not."""
    inputs.corpus(spark, cache, inputs.FRESH_DOCS, inputs.FRESH_SEED, zipf=False)
    ensure_zipf_base(spark, cache)


# ---------------------------------------------------------------------------
# lazy layers timed in isolation (traced run only)
# ---------------------------------------------------------------------------

def isolated_layers(run: Run, docs, alias, wh: str, prior_wh: str | None,
                    first_new: int | None) -> None:
    """prep, extract, canonicalization and KG build return plans, so their
    in-pipeline spans time plan construction only. Here each one runs on
    inputs persisted beforehand and is forced with a ``noop`` write.
    ``prior_wh`` holds the pre-batch mapping for the incremental path. As in
    the pipeline, prep runs over the whole corpus given (its dedup is
    corpus-level), and extraction over the docs from ``first_new`` on."""
    from financial_knowledge_graphs_spark.operators import extract, materialize, prep
    from financial_knowledge_graphs_spark.operators.linking import name_keys

    spark = run.spark
    p = _paths(wh)
    held = []

    def keep(df):
        df = df.persist()
        held.append(df)
        return df, df.count()

    def timed(name, make):
        t0 = time.perf_counter()
        with run.span(name):
            make().write.format("noop").mode("overwrite").save()
        run.layer[f"{name}_s"] = time.perf_counter() - t0

    try:
        src, _ = keep(docs)

        def prepared():
            return prep.dedup_by_story(
                prep.quality_filter(prep.with_story(src)).select("doc_id", "story"))

        def new(df):
            return df if first_new is None else df.filter(inputs.position_col() >= first_new)

        timed("prep.isolated", prepared)
        n_in = new(src).count()
        staged, n_kept = keep(new(prepared()))
        run.layer["prep.kept_ratio"] = n_kept / max(n_in, 1)

        udf = extract.make_extract_udf(spark, alias)
        parts = 3 * spark.sparkContext.defaultParallelism

        def extraction():
            return extract.run_extraction(
                staged.repartition(parts, "doc_id"), udf).select("doc_id", "extraction")

        timed("extract.isolated", extraction)
        run.layer["extract.docs_per_s"] = n_kept / run.layer["extract.isolated_s"]
        extracted, _ = keep(extraction())
        mentions, run.layer["extract.mentions"] = keep(extract.mentions_df(extracted))
        raw, run.layer["extract.raw_triples"] = keep(extract.raw_triples_df(extracted))

        if prior_wh is None:
            ledger, _ = keep(materialize.read_graph_table(spark, p["surface_mentions"]))
            timed("link.isolated", lambda: materialize.canonical_mapping(ledger))
        else:
            prior_map, _ = keep(materialize.read_graph_table(
                spark, _paths(prior_wh)["mapping"]))
            keys, _ = keep(name_keys(mentions))
            timed("link.isolated", lambda: materialize.canonical_mapping_incremental(
                prior_map, keys))
            ledger, _ = keep(materialize.read_graph_table(spark, p["surface_mentions"]))

        mapping, _ = keep(materialize.read_graph_table(spark, p["mapping"]))
        timed("build.vertices_isolated",
              lambda: materialize.build_vertices(ledger, mapping))
        timed("build.triples_isolated",
              lambda: materialize.build_triples(raw, mentions, mapping)[0])
        run.layer["build.isolated_s"] = (run.layer["build.vertices_isolated_s"]
                                         + run.layer["build.triples_isolated_s"])
    finally:
        for df in held:
            df.unpersist()
