"""The benchmark's workloads.

Each workload builds its inputs from the seed (``inputs``), sets up the
state it reads (``setup``, timed by the runner), then runs its operations
in a closed loop with one client until the time is up (``run``), checking
every output. ``run`` returns the end-to-end figures; with a tracer on it
also returns the per-layer figures.

Operations go through the engine's public functions only:
``pipeline.featurize``/``serve_asof``, ``operators.sessionize``,
``operators.windows``, ``operators.knn`` (``ivf_build``, ``ivf_probe``,
``ivf_append``, ``ivf_split``, ``read_posting_sizes``),
``sources.manifest.run_resumable`` and ``sources.snapshots.SnapshotTable``. A traced loop additionally wraps
``pipeline.with_arrow_token_features`` and ``manifest.digest_frame`` in
spans while it runs (``Materializer``, ``FeatureBackfill._traced_digest``).
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager
from statistics import median

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import inputs as gen
from harness import WORK, count_files, fresh_dir, percentile

CORES = 4


class Outcome:
    """What one run measured: operations attempted/failed, end-to-end
    figures, per-layer figures and report-only figures."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.e2e: dict[str, float] = {}
        self.layers: dict[str, float] = {}
        self.report: dict[str, float] = {}
        self.errors: list[str] = []

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(what)

    def merge_checks(self, other: "Outcome") -> None:
        self.attempted += other.attempted
        self.failed += other.failed
        self.errors += other.errors


@contextmanager
def patched(module, name: str, replacement):
    orig = getattr(module, name)
    setattr(module, name, replacement)
    try:
        yield orig
    finally:
        setattr(module, name, orig)


class Materializer:
    """Traced runs only: makes a lazy stage run inside its own span by
    writing it to parquet and handing back the re-read frame."""

    def __init__(self, spark, tracer, root: str):
        self.spark, self.tracer, self.root = spark, tracer, root
        self.n = 0

    def __call__(self, df, span: str):
        self.n += 1
        path = os.path.join(self.root, f"{span}-{self.n}")
        with self.tracer.span(span, plans=True, path=path):
            df.write.mode("overwrite").parquet(path)
        return self.spark.read.parquet(path)

    @contextmanager
    def tokens_stage(self):
        """Run ``pipeline.featurize``'s Arrow token kernel as its own
        span: the kernel's output is materialized and featurize's window
        stage reads it back."""
        from sptag_spark import pipeline

        def traced(df, **kw):
            return self(orig(df, **kw), "tokens")

        with patched(pipeline, "with_arrow_token_features", traced) as orig:
            yield


def _tokens_in(span: dict) -> int:
    """Tokens a materialized ``tokens`` span processed (its output keeps
    ``n_tok`` per row), read after the run so no span pays for it."""
    col = pq.read_table(span["path"], columns=["n_tok"])["n_tok"]
    return int(pa.compute.sum(col).as_py() or 0)


def _layer_median(tracer, name: str, fn) -> float:
    vals = [fn(s) for s in tracer.named(name)]
    vals = [v for v in vals if v is not None]
    return median(vals) if vals else 0.0


def _common_layers(tracer, ops: int) -> dict:
    # every job belongs to exactly one span's job group
    return {
        "jvm.gc_s": sum(s["spark"]["gc_s"] for s in tracer.spans) / ops,
        "tasks.count": sum(s["spark"]["tasks"] for s in tracer.spans) / ops,
    }


def _feature_layers(tracer) -> dict:
    """The token kernel and window stage of ``pipeline.featurize``."""
    tok = tracer.named("tokens")
    tok_self = sum(tracer.self_time(s) for s in tok)
    return {
        "tokens.self_s": _layer_median(tracer, "tokens", tracer.self_time),
        "tokens.tokens_per_s":
            sum(_tokens_in(s) for s in tok) / tok_self if tok_self else 0.0,
        "windows.self_s": _layer_median(tracer, "windows", tracer.self_time),
        "windows.exchanges":
            _layer_median(tracer, "windows", lambda s: s["exchanges"]),
        "windows.shuffle_write_bytes": _layer_median(
            tracer, "windows", lambda s: s["spark"]["shuffle_write_bytes"]),
    }


def _knn_layers(tracer, wave: int, k: int) -> dict:
    probe = tracer.named("knn.probe")
    return {
        "knn.probe_s": _layer_median(tracer, "knn.probe", tracer.self_time),
        "knn.append_s": _layer_median(tracer, "knn.append", tracer.self_time),
        "knn.split_s": _layer_median(tracer, "knn.split", tracer.self_time),
        "knn.buckets_read_per_query": median(
            [s["scans"]["partitions_read"] for s in probe]) / wave,
        "knn.candidates_per_result": median(
            [s["scans"]["rows_out"] for s in probe]) / (wave * k),
    }


def _asof_layers(tracer, probes_per_request: int) -> dict:
    asof = tracer.named("asof")
    return {
        "asof.self_s": _layer_median(tracer, "asof", tracer.self_time),
        "asof.shuffle_write_bytes": _layer_median(
            tracer, "asof", lambda s: s["spark"]["shuffle_write_bytes"]),
        "asof.task_skew": _layer_median(
            tracer, "asof", lambda s: s["spark"]["task_skew"]),
        "asof.rows_scanned_per_probe": median(
            [s["spark"]["input_records"] for s in asof]) / probes_per_request,
        "asof.jobs_per_request": median([s["spark"]["jobs"] for s in asof]),
    }


# ---------------------------------------------------------------------------
# feature_backfill
# ---------------------------------------------------------------------------

class FeatureBackfill:
    name = "feature_backfill"
    N_DOCS = 5_000
    N_BUCKETS = 2
    SESSION_GAP_S = 36 * 3600

    def inputs(self, seed: int) -> str:
        def build(path, rng):
            tbl = gen.corpus(rng, self.N_DOCS)
            gen.write_split(tbl, os.path.join(path, "corpus"))
            meta = {"rows": tbl.num_rows,
                    "tokens": int(pa.compute.sum(tbl["n_tok"]).as_py())}
            with open(os.path.join(path, "meta.json"), "w") as fh:
                json.dump(meta, fh)
        return gen.cached(self.name, seed, {"docs": self.N_DOCS}, build)

    def process(self, df):
        from sptag_spark import pipeline
        from sptag_spark.operators.sessionize import sessionize
        from sptag_spark.operators.windows import backfill

        feats = pipeline.featurize(df)
        sess = sessionize(feats, ["doc_id"], "ts", self.SESSION_GAP_S)
        return backfill(sess, ["doc_id"], ["ts", "version"],
                        ["lag_n_tok_1", "lead_n_tok_1"])

    def setup(self, spark, inp: str) -> dict:
        warm = spark.read.parquet(os.path.join(inp, "corpus", "part-000.parquet"))
        self.process(warm).write.format("noop").mode("overwrite").save()
        return {}

    def prepare(self, spark, inp: str, seed: int, state: dict) -> None:
        """Untimed: the reference digest, from one pass of the same
        ``process`` over the whole corpus."""
        from sptag_spark.sources import manifest

        state["ref"] = manifest.digest_frame(
            self.process(spark.read.parquet(os.path.join(inp, "corpus"))),
            ts_col="ts")

    def _cycle(self, spark, source: str, out_dir: str, process):
        """One crash + resume of ``run_resumable`` over ``source``.
        Returns (crash_s, resume_s, crash_ok, skipped, summary, per-bucket
        commit latencies from the manifest's completion times)."""
        from sptag_spark.sources import manifest

        def run(**kw):
            return manifest.run_resumable(
                spark, lambda s: s.read.parquet(source), process, out_dir,
                "doc_id", n_buckets=self.N_BUCKETS, ts_col="ts", **kw)

        half = self.N_BUCKETS // 2
        crash_ok, t0 = False, time.time()
        try:
            run(fail_after=half)
        except RuntimeError as e:
            crash_ok = "injected failure" in str(e)
        t1 = time.time()
        skipped = len(manifest.Manifest(out_dir).done_buckets())
        res = run()
        t2 = time.time()
        recs = sorted(manifest.Manifest(out_dir).read(),
                      key=lambda r: r["completed_at"])
        lat = []
        for start, phase in ((t0, recs[:half]), (t1, recs[half:])):
            for r in phase:
                lat.append(r["completed_at"] - start)
                start = r["completed_at"]
        return t1 - t0, t2 - t1, crash_ok, skipped, res, lat

    def warm(self, spark, inp, state, seconds, tracer) -> Outcome:
        # the first cycle after set-up takes about twice as long as later
        # ones and the second about 1.4x, so warm-up runs at least two
        return self.run(spark, inp, state, seconds, tracer, min_cycles=2)

    def run(self, spark, inp, state, seconds, tracer,
            min_cycles: int = 1) -> Outcome:
        out = Outcome()
        with open(os.path.join(inp, "meta.json")) as fh:
            meta = json.load(fh)
        corpus = os.path.join(inp, "corpus")
        work = os.path.join(WORK, "run", self.name)
        ref = state["ref"]
        cycles, buckets, resumes = [], [], []
        mat = Materializer(spark, tracer, os.path.join(work, "stages"))
        process = self.process
        if tracer.enabled:
            def process(df):
                with mat.tokens_stage():
                    return mat(self.process(df), "windows")
        deadline = time.time() + seconds
        while len(cycles) < min_cycles or time.time() < deadline:
            tracer.new_trace()
            with self._traced_digest(tracer), tracer.span("manifest"):
                crash, resume, crash_ok, skipped, res, lat = self._cycle(
                    spark, corpus, fresh_dir(os.path.join(work, "out")),
                    process)
            out.check(crash_ok and skipped == self.N_BUCKETS // 2
                      and res["buckets_done"] == self.N_BUCKETS
                      and res["rows"] == ref["n_rows"]
                      and res["digest"] == ref["digest"],
                      f"backfill cycle: {res} vs {ref}, skipped={skipped}")
            cycles.append(crash + resume)
            resumes.append(resume)
            buckets += lat
        tok_rates = [meta["tokens"] / c for c in cycles]
        # a bucket commit's own latency mixes in the stalls of a shared
        # host more than a whole cycle's does: per-bucket medians spread
        # by 0.22 over 10 seeds where the per-cycle figure spread by 0.16
        out.e2e = {"throughput_per_s": median(tok_rates),
                   "op_p50_ms": 1000 * median(cycles) / self.N_BUCKETS}
        out.report = {"backfill_tokens_per_s": median(tok_rates),
                      "resume_s": median(resumes),
                      "bucket_p50_ms": 1000 * percentile(buckets, 50),
                      "bucket_p90_ms": 1000 * percentile(buckets, 90),
                      "cycles": len(cycles), "buckets": len(buckets),
                      "corpus_tokens": meta["tokens"]}
        if tracer.enabled:
            self._layers(out, tracer, ref["n_rows"], skipped, len(cycles))
            out.layers["manifest.bucket_p50_s"] = percentile(buckets, 50)
        return out

    @contextmanager
    def _traced_digest(self, tracer):
        if not tracer.enabled:
            yield
            return
        from sptag_spark.sources import manifest

        def traced(df, ts_col=None):
            with tracer.span("manifest.digest"):
                return orig(df, ts_col=ts_col)

        with patched(manifest, "digest_frame", traced) as orig:
            yield

    def _layers(self, out, tracer, rows, skipped, cycles) -> None:
        # rows each bucket's source scan read, against rows the job wrote
        src_rows = sum(s["spark"]["input_records"]
                       for s in tracer.named("tokens"))
        out.layers.update(_common_layers(tracer, cycles))
        out.layers.update(_feature_layers(tracer))
        out.layers.update({
            "manifest.self_s":
                _layer_median(tracer, "manifest", tracer.self_time),
            "manifest.digest_s":
                _layer_median(tracer, "manifest.digest", tracer.self_time),
            "manifest.scan_amplification": src_rows / (rows * cycles),
            "manifest.resume_skipped_buckets": float(skipped),
        })


# ---------------------------------------------------------------------------
# pit_lookup_fresh
# ---------------------------------------------------------------------------

ORACLE_SQL = """
SELECT p.qid, epoch_us(f.ts) AS m, f.n_tok
FROM probes p ASOF LEFT JOIN feats f
  ON p.doc_id = f.doc_id AND p.asof_ts >= f.ts
ORDER BY p.qid
"""


def oracle_asof(feats: pa.Table, probes: pa.Table) -> pa.Table:
    """DuckDB ASOF JOIN: (qid, matched ts in us, n_tok) per probe."""
    con = duckdb.connect()
    try:
        con.register("feats", feats.select(["doc_id", "ts", "n_tok"]))
        con.register("probes", probes)
        return con.execute(ORACLE_SQL).arrow()
    finally:
        con.close()


def same_answers(got: pa.Table, want: pa.Table) -> bool:
    got = got.sort_by("qid")
    return got.num_rows == want.num_rows and all(
        got[c].to_pylist() == want[c].to_pylist()
        for c in ("qid", "m", "n_tok"))


def _quantized(x: np.ndarray) -> np.ndarray:
    """round-half-up(x * 1000) as int64: the engine's vector quantization."""
    y = x.astype(np.float64) * 1000
    return (np.sign(y) * np.floor(np.abs(y) + 0.5)).astype(np.int64)


def _cosine(q: np.ndarray, c: np.ndarray) -> np.ndarray:
    """Cosine of quantized vectors, rounded as the engine rounds it."""
    return (q @ c.T) / np.outer(np.sqrt((q * q).sum(1)),
                                np.sqrt((c * c).sum(1)))


def _top(ids: np.ndarray, cos: np.ndarray, k: int) -> set:
    """The k ids of highest cosine, ties to the smaller id."""
    return set(ids[np.lexsort((ids, -cos))[:k]].tolist())


def ivf_reference(index: str, queries: np.ndarray, nprobe: int,
                  k: int) -> tuple[list[set], list[set]]:
    """Per query, from the index files as they are: the top-k vector ids
    the IVF rule defines (the query's ``nprobe`` nearest heads, ties to
    the smaller head id, then the exact top-k over those postings), and
    the exact top-k over every vector the index holds."""
    heads = pq.read_table(os.path.join(index, "centroids"))
    order = np.argsort(heads["centroid_id"].to_numpy(), kind="stable")
    head_ids = heads["centroid_id"].to_numpy()[order]
    head_mat = _quantized(gen.matrix(heads["centroid_vec"]))[order]
    post = pq.read_table(os.path.join(index, "postings"),
                         columns=["vec_id", "embedding", "bucket"])
    ids = post["vec_id"].to_numpy()
    bucket = pa.compute.cast(post["bucket"], pa.int64()).to_numpy()
    q = _quantized(queries)
    probed = head_ids[np.argsort(-_cosine(q, head_mat), axis=1,
                                 kind="stable")[:, :nprobe]]
    cos = _cosine(q, _quantized(gen.matrix(post["embedding"])))
    ivf, exact = [], []
    for row, heads_of_q in zip(cos, probed):
        near = np.isin(bucket, heads_of_q)
        ivf.append(_top(ids[near], row[near], k))
        exact.append(_top(ids, row, k))
    return ivf, exact


class PitLookupFresh:
    """One closed-loop client. Each cycle of ``CYCLE`` requests holds
    as-of lookups, one ANN query wave and one write: new doc versions are
    featurized and appended to the snapshot table, and a burst of new
    vectors is appended to the IVF index, which then runs one split
    round over its over-full postings."""

    name = "pit_lookup_fresh"
    N_DOCS = 5_000
    REQUEST_PROBES = 1_000
    APPEND_ROWS = 500
    # of every CYCLE requests one is a write and one an ANN query wave;
    # both come first in a cycle, so the warm-up reaches them early
    CYCLE = 10
    WRITE_AT = 1
    ANN_AT = 2
    APPEND_GAP_US = 6 * 3600 * 1_000_000
    N_VECS = 4_000
    HEADS = 128
    WAVE = 10                  # queries per ANN wave
    K = 10
    NPROBE = 4
    # a burst of APPEND_VECS lands in one or two postings and overflows
    # them, so (nearly) every write runs a split round
    APPEND_VECS = 100
    MAX_POSTING = 40
    QUERY_ID0 = 1_000_000_000

    def inputs(self, seed: int) -> str:
        def build(path, rng):
            gen.write_split(gen.corpus(rng, self.N_DOCS),
                            os.path.join(path, "corpus"))
            gen.write_split(gen.vectors(rng, np.arange(self.N_VECS),
                                        gen.cluster_centres(seed)),
                            os.path.join(path, "vectors"), 1)
        return gen.cached(self.name, seed,
                          {"docs": self.N_DOCS, "vecs": self.N_VECS}, build)

    def _append_docs(self, seed: int, j: int) -> pa.Table:
        """The ``j``-th write's new doc versions, after all history."""
        rng = np.random.default_rng([seed, 2, j])
        docs = rng.choice(self.N_DOCS, self.APPEND_ROWS, replace=False)
        ts = gen.history_end_us() + (j + 1) * self.APPEND_GAP_US \
            + rng.integers(0, self.APPEND_GAP_US, len(docs))
        return gen.sequences(
            rng, docs, np.full(len(docs), gen.HOT_VERSIONS + 1 + j), ts)

    def _append_vecs(self, seed: int, j: int, centres) -> pa.Table:
        """The ``j``-th write's new vectors: a burst around one cluster
        centre, so the posting it lands in overflows and splits."""
        rng = np.random.default_rng([seed, 4, j])
        first = self.N_VECS + j * self.APPEND_VECS
        hot = centres[rng.integers(0, len(centres), 1)]
        return gen.vectors(rng, np.arange(first, first + self.APPEND_VECS),
                           hot)

    def _lookup(self, spark, table, probes: pa.Table) -> pa.Table:
        from pyspark.sql import functions as F

        from sptag_spark import pipeline

        return pipeline.serve_asof(
            table, spark.createDataFrame(probes), strategy="auto").select(
                "qid", F.unix_micros("matched_ts").alias("m"), "n_tok"
        ).toArrow()

    def setup(self, spark, inp: str) -> dict:
        from sptag_spark import pipeline
        from sptag_spark.operators import knn
        from sptag_spark.sources.snapshots import SnapshotTable

        work = os.path.join(WORK, "run", self.name)
        snap = SnapshotTable(fresh_dir(os.path.join(work, "table")))
        snap.append(pipeline.featurize(
            spark.read.parquet(os.path.join(inp, "corpus"))), ts_col="ts")
        index = fresh_dir(os.path.join(work, "index"))
        knn.ivf_build(spark.read.parquet(os.path.join(inp, "vectors")),
                      self.HEADS, index)
        # warm the lookup path on a small request
        self._lookup(spark, snap.read(spark), gen.probes(
            np.random.default_rng(0), 10, self.N_DOCS))
        return {"snap": snap, "index": index, "appends": 0}

    def prepare(self, spark, inp: str, seed: int, state: dict) -> None:
        """Untimed: the request stream and the rows and vectors the
        oracles compare against."""
        state["seed"] = seed
        state["rng"] = np.random.default_rng([seed, 1])
        state["centres"] = gen.cluster_centres(seed)
        state["visible"] = pq.read_table(os.path.join(inp, "corpus"),
                                         columns=["doc_id", "ts", "n_tok"])
        state["fresh"] = None
        state["vec_ids"] = pq.read_table(os.path.join(inp, "vectors"),
                                         columns=["vec_id"])["vec_id"] \
            .to_numpy()
        state["waves"] = 0
        state["requests"] = 0

    def _request(self, rng, qid0: int, fresh: pa.Table | None) -> pa.Table:
        req = gen.probes(rng, self.REQUEST_PROBES, self.N_DOCS,
                         first_qid=qid0)
        if fresh is None:
            return req
        # half the request asks for the just-appended versions
        k = self.REQUEST_PROBES // 2
        pick = rng.choice(fresh.num_rows, k)
        ts = fresh["ts"].to_numpy().astype("datetime64[us]").astype(np.int64)
        asof = ts[pick] + rng.integers(0, self.APPEND_GAP_US, k)
        doc = fresh["doc_id"].take(pa.array(pick)).combine_chunks()
        return pa.table({
            "qid": req["qid"],
            "doc_id": pa.concat_arrays([doc, req["doc_id"].combine_chunks()
                                        .slice(k)]),
            "asof_ts": pa.concat_arrays([
                pa.array(asof, gen.TS_TYPE),
                req["asof_ts"].combine_chunks().slice(k)]),
        })

    def _read(self, spark, state, i: int, out, tracer, files) -> float:
        snap, rng = state["snap"], state["rng"]
        probes = self._request(rng, i * self.REQUEST_PROBES, state["fresh"])
        files.append(sum(count_files(s["path"]) for s in snap.snapshots()))
        t0 = time.time()
        with tracer.span("asof", task_skew=True):
            got = self._lookup(spark, snap.read(spark), probes)
        took = time.time() - t0
        want = oracle_asof(state["visible"], probes)
        m = got["m"].to_numpy(zero_copy_only=False)
        asof = probes["asof_ts"].to_numpy().astype(
            "datetime64[us]").astype(np.int64)
        leaks = int(np.sum(np.nan_to_num(m, nan=-np.inf)
                           > asof[got["qid"].to_numpy()
                                  - probes["qid"][0].as_py()]))
        out.check(same_answers(got, want) and leaks == 0,
                  f"lookup {i}: leaks={leaks}")
        return took

    def _wave(self, spark, state, out, tracer, recalls) -> float:
        from sptag_spark.operators import knn

        w = state["waves"]
        state["waves"] = w + 1
        first = self.QUERY_ID0 + w * self.WAVE
        queries = gen.vectors(state["rng"],
                              np.arange(first, first + self.WAVE),
                              state["centres"])
        t0 = time.time()
        with tracer.span("knn.probe", scans=True):
            got = knn.ivf_probe(spark, state["index"],
                                spark.createDataFrame(queries), k=self.K,
                                nprobe=self.NPROBE).toArrow()
        took = time.time() - t0
        want, exact = ivf_reference(
            state["index"], gen.matrix(queries["embedding"]), self.NPROBE,
            self.K)
        by_query = [set(got.filter(pa.compute.equal(got["query_id"], q))
                        ["vec_id"].to_pylist())
                    for q in range(first, first + self.WAVE)]
        recalls.append(sum(len(g & e) for g, e in zip(by_query, exact))
                       / sum(len(e) for e in exact))
        wrong = sum(g != r for g, r in zip(by_query, want))
        out.check(wrong == 0
                  and got.num_rows == sum(len(r) for r in want),
                  f"ann wave {w}: {got.num_rows} rows, {wrong} queries "
                  f"differ from the IVF rule")
        return took

    def _write(self, spark, state, out, tracer, mat, ingest) -> float:
        """Featurize + snapshot append of new doc versions, then the IVF
        append of new vectors and a split if a posting overflows."""
        from sptag_spark import pipeline
        from sptag_spark.operators import knn

        j, snap, index = state["appends"], state["snap"], state["index"]
        state["appends"] = j + 1
        docs = self._append_docs(state["seed"], j)
        path = fresh_dir(os.path.join(WORK, "run", self.name, "appends",
                                      f"{j:04d}"))
        gen.write_split(docs, path, 1)
        vecs = self._append_vecs(state["seed"], j, state["centres"])
        vec_df = spark.createDataFrame(vecs)
        t0 = time.time()
        feats = spark.read.parquet(path)
        if tracer.enabled:
            with mat.tokens_stage():
                feats = mat(pipeline.featurize(feats), "windows")
        else:
            feats = pipeline.featurize(feats)
        with tracer.span("snapshots.append"):
            entry = snap.append(feats, ts_col="ts")
        t1 = time.time()
        with tracer.span("knn.append"):
            knn.ivf_append(spark, index, vec_df)
        splits = 0
        overflow = max(knn.read_posting_sizes(spark, index).values()) \
            > self.MAX_POSTING
        if overflow:
            with tracer.span("knn.split"):
                splits = knn.ivf_split(spark, index, self.MAX_POSTING,
                                       max_rounds=1)
        t2 = time.time()
        ingest.append((self.APPEND_VECS, t2 - t1, splits))
        state["fresh"] = docs.select(["doc_id", "ts", "n_tok"])
        state["visible"] = pa.concat_tables(
            [state["visible"], state["fresh"]])
        state["vec_ids"] = np.concatenate(
            [state["vec_ids"], vecs["vec_id"].to_numpy()])
        held = pq.read_table(os.path.join(index, "postings"),
                             columns=["vec_id"])["vec_id"].to_numpy()
        out.check(entry["n_rows"] == self.APPEND_ROWS
                  and (splits > 0 or not overflow)
                  and np.array_equal(np.sort(held), np.sort(state["vec_ids"])),
                  f"write {j}: {entry['n_rows']} rows appended, {splits} "
                  f"splits, index holds {len(held)} of "
                  f"{len(state['vec_ids'])} vectors")
        return t2 - t0

    def _loop(self, spark, state, seconds, tracer, warm: bool = False):
        """Requests until ``seconds`` have passed. The request position
        carries over from the previous loop. A measuring loop runs blocks
        of CYCLE requests, so every run measures the same mix: CYCLE - 2
        lookups, one ANN wave, one write. A warm-up loop runs until each
        kind of request has run once."""
        out = Outcome()
        mat = Materializer(spark, tracer,
                           os.path.join(WORK, "run", self.name, "stages"))
        reads, waves, writes = [], [], []
        seen = {"files": [], "recalls": [], "ingest": []}
        deadline = time.time() + seconds
        done = 0
        while (time.time() < deadline
               or not (reads and waves and writes) if warm
               else done == 0 or done % self.CYCLE
               or time.time() < deadline):
            done += 1
            i = state["requests"] = state["requests"] + 1
            tracer.new_trace()
            if i % self.CYCLE == self.WRITE_AT:
                writes.append(self._write(spark, state, out, tracer, mat,
                                          seen["ingest"]))
            elif i % self.CYCLE == self.ANN_AT:
                waves.append(self._wave(spark, state, out, tracer,
                                        seen["recalls"]))
            else:
                reads.append(self._read(spark, state, i, out, tracer,
                                        seen["files"]))
        return out, reads, waves, writes, seen

    def warm(self, spark, inp, state, seconds, tracer) -> Outcome:
        return self._loop(spark, state, seconds, tracer, warm=True)[0]

    def run(self, spark, inp, state, seconds, tracer) -> Outcome:
        out, reads, waves, writes, seen = self._loop(
            spark, state, seconds, tracer)
        files, recalls, ingest = seen["files"], seen["recalls"], seen["ingest"]
        requests = len(reads) + len(waves) + len(writes)
        out.e2e = {
            "throughput_per_s": requests / sum(reads + waves + writes),
            "op_p50_ms": 1000 * percentile(reads, 50),
        }
        out.report = {
            "lookup_p50_ms": 1000 * percentile(reads, 50),
            "lookup_p90_ms": 1000 * percentile(reads, 90),
            "append_p50_ms": 1000 * percentile(writes, 50),
            "ann_wave_p50_ms": 1000 * percentile(waves, 50),
            "ann_ingest_vectors_per_s":
                sum(n for n, _, _ in ingest) / sum(t for _, t, _ in ingest),
            "ann_splits": sum(k for _, _, k in ingest),
            "ann_recall_at_10": median(recalls),
            "reads": len(reads), "waves": len(waves), "writes": len(writes)}
        if tracer.enabled:
            out.layers.update(_common_layers(tracer, requests))
            out.layers.update(_feature_layers(tracer))
            out.layers.update(_asof_layers(tracer, self.REQUEST_PROBES))
            out.layers.update(_knn_layers(tracer, self.WAVE, self.K))
            out.layers.update({
                "snapshots.append_s": _layer_median(
                    tracer, "snapshots.append", tracer.self_time),
                "snapshots.files_per_read": median(files),
            })
        return out


WORKLOADS = {w.name: w for w in (FeatureBackfill(), PitLookupFresh())}
