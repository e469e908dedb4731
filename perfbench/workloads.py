"""The two benchmark workloads, driven only through the engine's
public functions.

``lead_etl``: one closed-loop job = the bulk scrape mode (id window ->
``fetch_pages`` with the synthetic site -> ``parse_pages`` ->
``run_batch_pipeline``) followed by the offline clean tool over 8
seeded run CSVs (``read_processed_csvs`` -> ``from_na`` ->
``run_batch_pipeline``). After a cold first job, warm jobs repeat
until ``--seconds`` pass and at least two ran.

``corpus_ingest``: one cold curation run (``run_corpus_pipeline`` with
shards) whose survivors are staged as the history
(``stage_corpus_artifacts``), then seeded batch files land one at a
time, each ingested by ``streaming_corpus_ingest`` into the curated
shard set before the next lands. The first batch warms the stream
path up; warm batches follow until ``--seconds`` pass and at least
two ran.

Each workload returns a :class:`Outcome`; any failed output check
raises :class:`CheckFailed`.
"""

from __future__ import annotations

import csv
import glob
import os
import random
import shutil
import time
from dataclasses import dataclass, field

import pyarrow.parquet as pq

import gen

# input sizes (4-core box; see README.md for the wall times they give)
BULK_IDS = 2000
CLEAN_ROWS = 16000
CORPUS_DOCS = 3000
BATCH_DOCS = 300
STREAM_WARM_BATCHES = 2  # after the warm-up batch; p50 and max are over these

CHUNK_TOKENS, CHUNK_OVERLAP = 64, 8  # CorpusConfig defaults
NEAR_DUP_JACCARD = 0.8  # CorpusConfig default
MIN_RECALL = 0.9


class CheckFailed(Exception):
    pass


@dataclass
class Outcome:
    first_run_s: float = 0.0
    latencies: list[float] = field(default_factory=list)  # warm jobs
    warm_records: int = 0
    attempted: int = 0
    failed: int = 0
    input_bytes: int = 0
    output_bytes: int = 0
    extra_setup_s: float = 0.0
    layer: dict[str, float] = field(default_factory=dict)
    traced_latencies: list[float] = field(default_factory=list)
    untraced_latencies: list[float] = field(default_factory=list)


@dataclass
class Ctx:
    spark: object
    tracer: object
    work: str
    seed: int
    seconds: float
    traced: bool

    @property
    def rng(self) -> random.Random:
        """A fresh generator for the run's inputs, seeded by --seed."""
        return random.Random(self.seed)


def du(*paths: str) -> int:
    total = 0
    for p in paths:
        for root, _dirs, files in os.walk(p):
            total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def expect(what: str, got, want) -> None:
    if got != want:
        raise CheckFailed(f"{what}: got {got!r}, expected {want!r}")


def read_ids(path: str, col: str = "doc_id") -> list:
    """A column of a landed parquet directory, read without Spark."""
    files = sorted(glob.glob(f"{path}/**/*.parquet", recursive=True))
    return [v for f in files for v in pq.read_table(f, columns=[col]).column(col).to_pylist()]


def chunk_tokens_of(text: str) -> int:
    """Token total of ``chunk_documents`` windows over ``text``
    (stride = chunk - overlap, last partial window kept)."""
    n = len(text.split())
    if n == 0:
        return 0
    stride = CHUNK_TOKENS - CHUNK_OVERLAP
    k = -(-max(n - CHUNK_OVERLAP, 1) // stride)
    return sum(min(CHUNK_TOKENS, n - i * stride) for i in range(k))


def _stage_timer(times: dict):
    """progress_callback that stamps each stage's landing time."""
    def cb(stage: str, info: dict) -> None:
        times[stage] = (time.perf_counter(), info)
    return cb


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _add(layer: dict, key: str, value: float) -> None:
    layer[key] = layer.get(key, 0.0) + value


def _job_loop(ctx: Ctx, run_job, out: Outcome, records_per_job: int, min_jobs: int,
              after=None) -> None:
    """Closed loop: a cold first job, then warm jobs until their times
    add up to ``ctx.seconds`` and at least ``min_jobs`` ran. ``after(i)``
    (checks, clean-up) runs outside the timed job and outside the
    window. A traced run alternates untraced
    and traced warm jobs (untraced, traced, untraced at least); the
    first warm job still warms up, so the overhead line compares the
    traced jobs with the later untraced ones only."""
    tracer = ctx.tracer
    i = 0
    while True:
        warm = i > 0
        traced = ctx.traced and i % 2 == 0
        tracer.enabled, tracer.phase = traced, "warm" if warm else "cold"
        t0 = time.perf_counter()
        out.attempted += records_per_job
        try:
            with tracer.span("job", "bench"):
                run_job(i, traced)
            dt = time.perf_counter() - t0
            tracer.enabled = ctx.traced
            if after is not None:
                after(i)
        except Exception:
            out.failed += records_per_job
            raise
        if not warm:
            out.first_run_s = dt
        else:
            out.latencies.append(dt)
            out.warm_records += records_per_job
            (out.traced_latencies if traced else out.untraced_latencies).append(dt)
        i += 1
        done = sum(out.latencies) >= ctx.seconds and len(out.latencies) >= min_jobs
        if ctx.traced and (not out.traced_latencies or len(out.untraced_latencies) < 2):
            done = False
        if done:
            return


# ------------------------------------------------------------ lead_etl


def lead_etl(ctx: Ctx, out: Outcome) -> Outcome:
    from pyspark.sql import functions as F

    from etl_guiacores_spark import io as gio
    from etl_guiacores_spark.functions.text import from_na
    from etl_guiacores_spark.plans import run_batch_pipeline
    from etl_guiacores_spark.sources.fetch import fetch_pages
    from etl_guiacores_spark.sources.html_parse import DETAIL_URL_BASE, parse_pages
    from etl_guiacores_spark.sources.synthetic import (
        synthetic_detail_page,
        synthetic_site_transport,
    )

    spark, tracer = ctx.spark, ctx.tracer
    rng = ctx.rng
    bulk = gen.gen_bulk(rng, f"{ctx.work}/inputs/bulk", BULK_IDS)
    clean = gen.gen_clean(rng, f"{ctx.work}/inputs/clean", CLEAN_ROWS)
    # the scrape's input is the pages the site serves, not the id window
    bulk_bytes = sum(
        len(synthetic_detail_page(n).encode())
        for n in range(bulk["start_id"], bulk["end_id"] + 1)
        if n % gen.FAIL_MOD
    )
    out.input_bytes = bulk_bytes + clean["input_bytes"]
    per_job = bulk["input_records"] + clean["input_records"]
    layer = out.layer
    jobs: list[dict] = []

    def run_job(i: int, traced: bool) -> None:
        root = f"{ctx.work}/out/job{i}"
        stages_b: dict = {}
        stages_c: dict = {}
        with tracer.span("sources.fetch_pages", "sources"):
            # the CLI bulk path: materialize the fetch once, land the
            # fetch failures, parse only the pages that arrived
            urls = spark.range(bulk["start_id"], bulk["end_id"] + 1).select(
                F.col("id").cast("string").alias("id_negocio"),
                F.concat(F.lit(DETAIL_URL_BASE), F.col("id").cast("string")).alias("url"),
            )
            fetched = fetch_pages(urls, synthetic_site_transport, max_attempts=3)
            gio.write_handoff(fetched, f"{root}/bulk/fetched")
            fetched = spark.read.schema(fetched.schema).parquet(f"{root}/bulk/fetched")
            failed = fetched.filter(F.col("fetch_error").isNotNull())
            gio.write_handoff(
                failed.select("id_negocio", "url", "fetch_error"),
                f"{root}/bulk/fetch_quarantine",
            )
            n_failed = failed.count()
        with tracer.span("sources.parse_pages", "sources"):
            ok = fetched.filter(F.col("fetch_error").isNull())
            parsed = parse_pages(ok.select("url", "html"))
        t_bulk = time.perf_counter()
        with tracer.span("plans.run_batch_pipeline", "plans.pipeline"):
            res_b = run_batch_pipeline(
                parsed, f"{root}/bulk", progress_callback=_stage_timer(stages_b)
            )
        with tracer.span("io.read_processed_csvs", "io"):
            raw = gio.read_processed_csvs(spark, clean["glob"])
            raw = raw.select(*[from_na(F.col(c)).alias(c) for c in raw.columns])
        t_clean = time.perf_counter()
        with tracer.span("plans.run_batch_pipeline", "plans.pipeline"):
            res_c = run_batch_pipeline(
                raw, f"{root}/clean", progress_callback=_stage_timer(stages_c)
            )
        jobs.append({"root": root, "n_failed": n_failed, "bulk": res_b, "clean": res_c})
        if traced and i > 0:
            for start, st in ((t_bulk, stages_b), (t_clean, stages_c)):
                prev = start
                for name, key in (("bronze", "bronze_s"), ("silver", "silver_s"),
                                  ("gold", "gold_s"), ("done", "audit_s")):
                    _add(layer, f"plans.run_batch_pipeline.{key}", st[name][0] - prev)
                    prev = st[name][0]

    def check(job: dict) -> None:
        rb, rc = job["bulk"]["metrics"], job["clean"]["metrics"]
        expect("bulk records", rb["records"], bulk["records"])
        expect("bulk with_email", rb["with_email"], bulk["with_email"])
        expect("bulk quarantined", rb["quarantined"], 0)
        expect("bulk fetch quarantine", job["n_failed"], bulk["fetch_failed"])
        gold = {}
        for part in glob.glob(f"{job['root']}/bulk/gold/*/*.csv"):
            with open(part, newline="") as f:
                for row in csv.DictReader(f):
                    gold[row["id_negocio"]] = row
        expect("bulk gold rows", len(gold), bulk["records"])
        for n in bulk["sample_ids"]:
            row = gold.get(str(n), {})
            want = gen.bulk_expected_row(n)
            expect(f"gold row {n}", {k: row.get(k) for k in want}, want)
        expect("clean records", rc["records"], clean["distinct_keys"])
        expect("clean quarantined", rc["quarantined"], clean["quarantined"])

    def after(i: int) -> None:
        try:
            check(jobs[-1])
        except (KeyError, OSError) as e:
            raise CheckFailed(f"job {i}: {type(e).__name__}: {e}") from e
        # keep only the latest job's outputs on disk
        if i > 0:
            shutil.rmtree(jobs[-2]["root"], ignore_errors=True)

    _job_loop(ctx, run_job, out, per_job, 2, after)
    last = jobs[-1]["root"]
    out.output_bytes = du(last)

    if ctx.traced:
        n_traced = len(out.traced_latencies)
        for k in list(layer):
            layer[k] /= n_traced
        layer["plans.run_batch_pipeline.quarantined"] = float(
            jobs[-1]["bulk"]["metrics"]["quarantined"]
            + jobs[-1]["clean"]["metrics"]["quarantined"]
        )
        handoffs = [f"{last}/{p}/{d}" for p in ("bulk", "clean")
                    for d in ("fetched", "fetch_quarantine", "bronze", "silver", "quarantine")]
        layer["io.write_handoff.bytes"] = float(du(*handoffs))
        layer["io.write_run_csv.bytes"] = float(du(f"{last}/bulk/gold", f"{last}/clean/gold"))
        layer["io.write_run_csv.s"] = layer["plans.run_batch_pipeline.gold_s"]
        attempts = read_ids(f"{last}/bulk/fetched", "attempts")
        layer["sources.fetch_pages.rows"] = float(len(attempts))
        layer["sources.fetch_pages.attempts_per_row"] = sum(attempts) / len(attempts)
        layer["sources.fetch_pages.s"] = tracer.total("sources.fetch_pages", phase="warm") / n_traced
        rows = clean["input_records"] - clean["quarantined"]
        kept = jobs[-1]["clean"]["metrics"]["records"]
        layer["quality.dup_recall"] = (rows - kept) / (rows - clean["distinct_keys"])
        layer["quality.false_drop_rate"] = 0.0  # every distinct key reached gold (checked)
        tracer.phase = "probe"
        _lead_probes(ctx, last, clean["glob"], layer)
    return out


def _lead_probes(ctx: Ctx, last: str, csv_glob: str, layer: dict) -> None:
    """Lazy calls (parse, canonicalize, clean, dedupe) run inside the
    pipeline's stage writes, so the traced run times each one alone:
    its output, computed from the stored input of the last job, goes
    to Spark's noop sink."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from etl_guiacores_spark import io as gio
    from etl_guiacores_spark.functions.text import from_na
    from etl_guiacores_spark.operators.dedupe import dedupe_keyed
    from etl_guiacores_spark.plans.pipeline import clean_leads
    from etl_guiacores_spark.schema import canonicalize
    from etl_guiacores_spark.sources.html_parse import parse_pages

    spark, tracer = ctx.spark, ctx.tracer
    with tracer.span("probes", "bench"):
        fetched = spark.read.parquet(f"{last}/bulk/fetched")
        ok = fetched.filter(F.col("fetch_error").isNull()).select("url", "html")
        obs = Observation("parsed")
        with tracer.span("sources.parse_pages", "sources") as sp:
            _noop(parse_pages(ok).observe(obs, F.count(F.lit(1)).alias("n")))
        layer["sources.parse_pages.s"] = sp.duration
        layer["sources.parse_pages.rows_out"] = float(obs.get["n"])

        raw = gio.read_processed_csvs(spark, csv_glob)
        with tracer.span("io.read_processed_csvs", "io") as sp:
            _noop(raw)
        layer["io.read_processed_csvs.s"] = sp.duration
        raw = raw.select(*[from_na(F.col(c)).alias(c) for c in raw.columns])
        with tracer.span("schema.canonicalize", "schema") as sp:
            _noop(canonicalize(raw))
        layer["schema.canonicalize.s"] = sp.duration

        bronze = spark.read.parquet(f"{last}/clean/bronze")
        with tracer.span("plans.pipeline.clean_leads", "plans.pipeline") as sp:
            _noop(clean_leads(bronze))
        layer["plans.pipeline.clean_leads.s"] = sp.duration
        keyed = bronze.withColumn("id_negocio", F.trim("id_negocio")).filter(
            F.length("id_negocio") > 0
        )
        o_in, o_out = Observation("dd_in"), Observation("dd_out")
        with tracer.span("operators.dedupe_keyed", "operators") as sp:
            kin = keyed.observe(o_in, F.count(F.lit(1)).alias("n"))
            _noop(dedupe_keyed(kin, ["id_negocio"]).observe(o_out, F.count(F.lit(1)).alias("n")))
        layer["operators.dedupe_keyed.s"] = sp.duration
        layer["operators.dedupe_keyed.rows_in"] = float(o_in.get["n"])
        layer["operators.dedupe_keyed.rows_out"] = float(o_out.get["n"])


# ------------------------------------------------------- corpus_ingest


def corpus_ingest(ctx: Ctx, out: Outcome) -> Outcome:
    import etl_guiacores_spark.plans.corpus_pipeline as cp
    import etl_guiacores_spark.plans.shard_writer as sw
    from etl_guiacores_spark.plans.corpus_pipeline import CorpusConfig, run_corpus_pipeline

    spark, tracer, work = ctx.spark, ctx.tracer, ctx.work
    corpus = gen.gen_corpus(ctx.rng, f"{work}/inputs/corpus", CORPUS_DOCS)
    texts, planted = corpus["texts"], corpus["planted"]
    layer = out.layer

    # -- cold curation run: a one-shot CLI corpus job
    cur = f"{work}/out/curated"
    stages: dict = {}
    tracer.phase = "cold"
    out.attempted += corpus["input_records"]
    t0 = time.perf_counter()
    try:
        with tracer.span("plans.run_corpus_pipeline", "plans.corpus_pipeline"):
            result = run_corpus_pipeline(
                spark.read.parquet(corpus["path"]), cur, CorpusConfig(write_shards=True),
                progress_callback=_stage_timer(stages),
            )
        curate_s = time.perf_counter() - t0
        cur_hits, cur_near, cur_tokens = _check_curation(corpus, result, cur)
    except Exception:
        out.failed += corpus["input_records"]
        raise
    if ctx.traced:
        _curation_layers(ctx, result, stages, t0, cur, layer)

    # -- stage the curated survivors as the stream's history
    tracer.phase = "setup"
    t0 = time.perf_counter()
    with tracer.span("plans.corpus_pipeline.stage_corpus_artifacts", "plans.corpus_pipeline"):
        tables = cp.stage_corpus_artifacts(
            spark.read.parquet(f"{cur}/clean").select("doc_id", "text"), "history"
        )
    out.extra_setup_s = time.perf_counter() - t0
    layer["plans.corpus_pipeline.stage_corpus_artifacts.s"] = out.extra_setup_s

    # -- stream: land one batch, ingest it, then land the next; batches
    # append to the curated training shards
    origins = [(d, texts[d]) for d in sorted(texts) if d not in planted]
    land, acc = f"{work}/stream/landing", f"{work}/stream/accepted"
    ckpt, shards = f"{work}/stream/checkpoint", f"{cur}/shards"
    os.makedirs(land)
    batches: list[dict] = []
    cached: list = []
    real = (cp.incremental_near_dup, cp.append_corpus_artifacts, sw.append_batch_shards)
    if ctx.traced:
        _install_stream_spans(tracer, cp, sw, real, cached)

    def run_batch(i: int, traced: bool) -> None:
        b = gen.gen_batch(
            random.Random(f"{ctx.seed}:batch:{i}"), f"{work}/inputs/batches", i,
            max(texts) + 1 + i * BATCH_DOCS, BATCH_DOCS, origins,
        )
        batches.append(b)
        with tracer.span("streaming.batch", "streaming") as sp:
            # the landing copy is inside the latency: file lands -> commit
            shutil.copy(b["path"], land)
            q = cp.streaming_corpus_ingest(spark, land, tables, acc, ckpt, shards_dir=shards)
            try:
                q.awaitTermination()
            finally:
                q.stop()
            tracer.add_group_counts(sp, str(q.runId))
        for df in cached:
            df.unpersist()
        cached.clear()

    try:
        # a long-running ingest service: its first batch pays the
        # stream path's cold start (checked, not reported); the latencies
        # are those of the warm batches after it
        _job_loop(ctx, run_batch, out, BATCH_DOCS, STREAM_WARM_BATCHES)
    finally:
        cp.incremental_near_dup, cp.append_corpus_artifacts, sw.append_batch_shards = real
    out.first_run_s = curate_s
    out.input_bytes = corpus["input_bytes"] + sum(b["bytes"] for b in batches)
    wh = f"{work}/warehouse"
    out.output_bytes = du(cur, wh, f"{work}/stream")
    try:
        st_hits, st_near = _check_stream(batches, acc, shards, cur_tokens)
    except CheckFailed:
        out.failed += BATCH_DOCS * len(batches)
        raise
    if ctx.traced:
        n = len(out.traced_latencies)
        steps = 0.0
        for name in ("plans.corpus_pipeline.incremental_near_dup",
                     "plans.corpus_pipeline.append_corpus_artifacts",
                     "plans.shard_writer.append_batch_shards"):
            layer[f"{name}.s"] = tracer.total(name, phase="warm") / n
            steps += layer[f"{name}.s"]
        layer["streaming.overhead_s"] = tracer.total("streaming.batch", phase="warm") / n - steps
        layer["artifacts.files"] = float(sum(
            1 for t in tables.values() for f in os.listdir(f"{wh}/{t}") if not f.startswith(("_", "."))
        ))
        layer["artifacts.bytes"] = float(du(*[f"{wh}/{t}" for t in tables.values()]))
        layer["quality.dup_recall"] = (cur_hits + st_hits) / (cur_near + st_near)
        layer["quality.false_drop_rate"] = 0.0  # any false drop fails the checks
    for t in tables.values():
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    return out


def _curation_layers(ctx: Ctx, result: dict, stages: dict, t0: float, cur: str, layer: dict) -> None:
    """Per-stage times and counts of the curation run (from its
    progress callback), plus an LSH probe for the candidate count the
    pipeline does not report."""
    import etl_guiacores_spark.plans.corpus_pipeline as cp
    from etl_guiacores_spark.operators.similarity import lsh_candidate_pairs

    prev = t0
    for name in ("raw", "filtered", "exact_dedup", "near_dup", "chunks", "vocab", "shards"):
        ts, info = stages[name]
        if name != "raw":
            layer[f"plans.run_corpus_pipeline.{name}_s"] = ts - prev
        if name != "shards":
            layer[f"plans.run_corpus_pipeline.{name}_records"] = float(info["records"])
        prev = ts
    sh = result["shards"]
    layer["plans.shard_writer.write_training_shards.s"] = layer["plans.run_corpus_pipeline.shards_s"]
    layer["plans.shard_writer.write_training_shards.sequences"] = float(sh["n_sequences"])
    layer["plans.shard_writer.write_training_shards.pack_fill"] = float(sh["fill_ratio"])
    layer["io.write_handoff.bytes"] = float(du(*[
        f"{cur}/{d}" for d in ("filtered", "dup_pairs", "clean", "chunks", "vocab")
    ]))
    tracer, spark = ctx.tracer, ctx.spark
    tracer.phase = "probe"
    with tracer.span("probes", "bench"):
        exact = cp.exact_dedup(spark.read.parquet(f"{cur}/filtered"))
        with tracer.span("plans.corpus_pipeline.near_dup_removal", "plans.corpus_pipeline"):
            cand = lsh_candidate_pairs(exact, "doc_id", "text", portable=False)
            n_cand = cand.count()
        bands = getattr(cand, "staged_bands", None)
        if bands is not None:
            bands.unpersist()
    n_ver = result["near_dup_pairs"]
    layer["plans.corpus_pipeline.near_dup_removal.candidate_pairs"] = float(n_cand)
    layer["plans.corpus_pipeline.near_dup_removal.verified_pairs"] = float(n_ver)
    layer["plans.corpus_pipeline.near_dup_removal.verify_yield"] = n_ver / max(n_cand, 1)


def _install_stream_spans(tracer, cp, sw, real, cached: list) -> None:
    """Wrap the three per-batch steps ``streaming_corpus_ingest`` calls
    (module attributes, looked up at call time) in spans. The dedup
    step returns a lazy frame that the stream writes right after; on a
    traced batch the wrapper persists and counts it inside its span so
    the dedup's cost lands on the step that owns it."""
    inc, app, shard = real

    def traced_inc(*a, **k):
        if not tracer.enabled:
            return inc(*a, **k)
        with tracer.span("plans.corpus_pipeline.incremental_near_dup", "plans.corpus_pipeline"):
            survivors, pairs = inc(*a, **k)
            survivors = survivors.persist()
            survivors.count()
        cached.append(survivors)
        return survivors, pairs

    def traced_app(*a, **k):
        with tracer.span("plans.corpus_pipeline.append_corpus_artifacts", "plans.corpus_pipeline"):
            return app(*a, **k)

    def traced_shard(*a, **k):
        with tracer.span("plans.shard_writer.append_batch_shards", "plans.shard_writer"):
            return shard(*a, **k)

    cp.incremental_near_dup, cp.append_corpus_artifacts = traced_inc, traced_app
    sw.append_batch_shards = traced_shard


def _check_curation(corpus: dict, result: dict, cur: str) -> tuple[int, int, int]:
    """Returns (planted near-dups removed, planted near-dups, shard
    token total)."""
    texts, planted = corpus["texts"], corpus["planted"]
    kinds = [k for k, _ in planted.values()]
    n = len(texts)
    expect("after filter", result["after_quality_lang_filter"], n - kinds.count("junk"))
    # distinct texts among the kept docs: exact copies differ only in
    # padding whitespace, every other text is distinct by construction
    distinct = len({t.strip() for d, t in texts.items() if planted.get(d, ("",))[0] != "junk"})
    expect("exact-dedup survivors", result["after_exact_dedup"], distinct)
    survivors = set(read_ids(f"{cur}/clean"))
    expect("survivor count", len(survivors), result["after_near_dup"])
    removed = set(texts) - survivors
    false = [d for d in removed if d not in planted]
    if false:
        raise CheckFailed(f"{len(false)} unplanted docs removed, e.g. {sorted(false)[:5]}")
    near = [d for d, (k, o) in planted.items()
            if k == "near" and gen.jaccard(texts[d], texts[o]) >= NEAR_DUP_JACCARD]
    hits = sum(1 for d in near if d in removed)
    if hits < MIN_RECALL * len(near):
        raise CheckFailed(f"near-dup recall {hits}/{len(near)} < {MIN_RECALL}")
    want = sum(chunk_tokens_of(texts[d]) for d in survivors)
    expect("shard token total", result["shards"]["total_tokens"], want)
    expect("manifest token total", sum(read_ids(f"{cur}/shards/manifest", "n_tokens")), want)
    return hits, len(near), want


def _check_stream(batches: list[dict], acc: str, shards: str, base_tokens: int) -> tuple[int, int]:
    """Returns (planted near-dups dropped, planted near-dups landed).
    ``base_tokens``: the shard set's token total before the stream."""
    accepted = set(read_ids(acc))
    landed = {d: t for b in batches for d, t in b["texts"].items()}
    planted = {d for b in batches for d in b["planted"]}
    removed = set(landed) - accepted
    false = removed - planted
    if false:
        raise CheckFailed(f"{len(false)} unplanted batch docs dropped, e.g. {sorted(false)[:5]}")
    hits = len(removed & planted)
    if hits < MIN_RECALL * len(planted):
        raise CheckFailed(f"stream near-dup recall {hits}/{len(planted)} < {MIN_RECALL}")
    want = base_tokens + sum(chunk_tokens_of(landed[d]) for d in accepted)
    expect("shard token total after the stream", sum(read_ids(f"{shards}/manifest", "n_tokens")), want)
    return hits, len(planted)


WORKLOADS = {"lead_etl": lead_etl, "corpus_ingest": corpus_ingest}
