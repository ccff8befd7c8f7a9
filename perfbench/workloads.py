"""The benchmark's workloads: inputs made from a seed, a warm-up that is
checked against the pure-Python oracles, one timed iteration, and the
checks every iteration's output must pass.

* ``images`` — the flagship ``dedup_images`` (caption, bytes, pHash and
  substring lanes, OR fusion) over a planted image corpus of 10,000
  images. The warm-up slice is checked against the pure-Python oracle and
  every iteration against the planted truth. Its traced run also drives ``IncrementalDeduper`` over a slice of the same corpus and
  checks the stream's assignments against ``dedup_images`` on those rows.
* ``tables`` — text dedup plus substring pairs over low-vocabulary
  documents sized so the candidate estimate sits at or above
  ``dedup.PYGEN_MIN_PAIRS``, then the nine ``functions/*`` sketch queries
  over generated lineitem/events/orders tables, each answer checked
  against its DuckDB ``oracle_sql`` twin.
"""

from __future__ import annotations

import functools
import importlib.util
import os
import shutil
from contextlib import nullcontext

import numpy as np

from harness import ROOT

LAYERS = ("sources", "minhash", "lsh", "verify", "imagededup", "substring", "cc", "streaming")

#: sketch family → the ``__spark_entry__`` query that exercises it
SKETCH_QUERIES = (
    ("theta", "theta_distinct_orderkey"),
    ("cpc", "cpc_distinct_coverage"),
    ("hll", "hll_sketch_coverage"),
    ("kll", "kll_rank_coverage"),
    ("classic", "classic_quantiles_coverage"),
    ("tdigest", "tdigest_price_tails"),
    ("tuple", "tuple_epoch_setops"),
    ("freq", "frequent_items_sketch"),
    ("ebpps", "ebpps_sample_exact"),
)
FAMILIES = tuple(f for f, _ in SKETCH_QUERIES)


def _script(name: str):
    """Import ``scripts/<name>.py`` of the checkout (not a package)."""
    spec = importlib.util.spec_from_file_location(name, os.path.join(ROOT, "scripts", f"{name}.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@functools.cache
def _value_hash_fn():
    return _script("check_correctness").value_hash


def _value_hash(pdf) -> str:
    """The correctness gate's row-order-insensitive value hash."""
    return _value_hash_fn()(pdf)


def _partition(assign: dict) -> set:
    groups: dict = {}
    for node, root in assign.items():
        groups.setdefault(root, set()).add(node)
    return {frozenset(g) for g in groups.values()}


def _read(spark, path: str, tracer):
    df = spark.read.parquet(path)
    if tracer is None:
        return df
    with tracer.span("sources", f"read {os.path.basename(path)}"):
        return tracer.materialize(df)


class Workload:
    """Base: ``keep`` materializes a result inside the timed region and
    ``release`` drops it once the iteration's checks are done."""

    rows = 0

    def __init__(self):
        self._kept: list = []

    def keep(self, df):
        df = df.persist()
        df.count()
        self._kept.append(df)
        return df

    def release(self) -> None:
        for df in self._kept:
            df.unpersist()
        self._kept.clear()

    def _ids_once(self, asg, expected_ids_checksum: str, n: int) -> list[str]:
        """Every input id is assigned exactly once."""
        from pyspark.sql import functions as F

        from datasketches_cpp_spark.plans.checkpoint import checksum

        problems = []
        row = asg.agg(F.count("id").alias("n"), F.countDistinct("id").alias("d")).collect()[0]
        if row["n"] != n or row["d"] != n:
            problems.append(f"{row['n']} assignments for {row['d']} distinct ids, expected {n}")
        if checksum(asg.select("id"), "id") != expected_ids_checksum:
            problems.append("assigned ids differ from the input ids")
        return problems


class Images(Workload):
    def __init__(self, scale: float):
        super().__init__()
        from datasketches_cpp_spark.operators.sigkernel import SigConfig

        # bench.py's img_cfg / bytes_cfg
        self.cfg = SigConfig(num_perm=64, bands=32, kmv_k=128, shingle_w=3, jaccard_threshold=0.5)
        self.bytes_cfg = SigConfig(num_perm=64, bands=16, kmv_k=128, shingle_w=16, jaccard_threshold=0.9)
        # the largest corpus whose runs fit the benchmark's time budget; an
        # iteration still carries ~9 s of per-stage fixed cost on 4 cores
        # (its wall at 1,500 images), see perfbench/README.md
        self.rows = max(64, int(10000 * scale))
        # warm-up slice, also the slice the pure-Python oracle checks; taken
        # from the end of the corpus, away from the hot group the generator
        # puts first (1% of the rows, quadratic for the oracle)
        self.warm_rows = max(16, int(1000 * scale))
        self.stream_epochs = 2
        self.stream_rows = max(32, int(150 * scale))

    def prepare(self, spark, data_dir: str, seed: int) -> None:
        import pyarrow.parquet as pq

        from datasketches_cpp_spark.sources.images import write_images_parquet

        self.img_path, self.truth_path = write_images_parquet(data_dir, self.rows, seed=seed)
        tail = max(self.warm_rows, self.stream_rows * self.stream_epochs)
        table = pq.read_table(self.img_path)
        self.pdf = table.slice(max(0, table.num_rows - tail)).to_pandas()
        self.state_root = os.path.join(data_dir, "stream")

    def warm_up(self, spark):
        """``dedup_images`` over the slice at the end of the corpus, so the
        timed iterations start with Python workers up and query plans
        compiled."""
        warm = spark.createDataFrame(self.pdf.iloc[: self.warm_rows])
        asg = self._dedup(warm)["assignments"].collect()
        self._warm_asg = {r["id"]: r["cluster_id"] for r in asg}

    def check_setup(self, spark) -> list[str]:
        """The warm-up slice must partition exactly as the pure-Python
        oracle does on the same rows."""
        from pyspark.sql import functions as F

        from datasketches_cpp_spark.oracle.pyimages import oracle_dedup_images
        from datasketches_cpp_spark.plans.checkpoint import checksum

        sl = self.pdf.iloc[: self.warm_rows].reset_index(drop=True)
        want, _ = oracle_dedup_images(sl, self.cfg, self.bytes_cfg, byte_stride=4)
        problems = []
        if _partition(want) != _partition(self._warm_asg):
            problems.append(f"dedup_images on the last {self.warm_rows} images differs from oracle/pyimages")
        images = spark.read.parquet(self.img_path)
        self.ids_checksum = checksum(images.select(F.col("image_id").alias("id")), "id")
        self.truth = spark.read.parquet(self.truth_path).persist()
        return problems

    def _dedup(self, images, lanes=("caption", "bytes", "phash", "substring")):
        from datasketches_cpp_spark.operators.imagededup import dedup_images

        return dedup_images(images, self.cfg, self.bytes_cfg, byte_stride=4, enable_lanes=lanes)

    def iteration(self, spark, tracer=None) -> dict:
        images = _read(spark, self.img_path, tracer)
        return {"assignments": self.keep(self._dedup(images)["assignments"])}

    def check(self, spark, out: dict) -> tuple[list[str], dict]:
        from datasketches_cpp_spark.operators.evaldedup import pair_confusion
        from datasketches_cpp_spark.plans.checkpoint import checksum

        asg = out["assignments"]
        problems = self._ids_once(asg, self.ids_checksum, self.rows)
        # the configured lanes recover the planted duplicate groups exactly
        conf = pair_confusion(asg, self.truth).collect()[0]
        if not conf["truth_pairs"] or conf["recall"] != 1.0 or conf["precision"] != 1.0:
            problems.append(
                f"pair recall {conf['recall']} / precision {conf['precision']} against the "
                f"planted truth ({conf['truth_pairs']} pairs), expected 1.0 / 1.0"
            )
        signature = {
            "assignments": checksum(asg, "id", "cluster_id"),
            "pair_recall": conf["recall"],
            "pair_precision": conf["precision"],
        }
        return problems, signature

    def stream(self, spark, tracer) -> tuple[list[str], dict]:
        """Closed loop, one client: the next epoch's ``process_batch`` is
        called when the previous one returns, as foreachBatch drives it;
        ``assignments()`` is the final read. The result must equal
        ``dedup_images`` over the same rows and lanes."""
        from datasketches_cpp_spark.plans.checkpoint import checksum
        from datasketches_cpp_spark.streaming.incremental import IncrementalDeduper

        lanes = ("caption", "bytes", "phash")
        n = self.stream_rows * self.stream_epochs
        rows = self.pdf.iloc[:n].reset_index(drop=True)
        shutil.rmtree(self.state_root, ignore_errors=True)
        deduper = IncrementalDeduper(
            spark, self.state_root, cfg=self.cfg, bytes_cfg=self.bytes_cfg,
            byte_stride=4, enable_lanes=lanes, exact_on=("bytes", "caption"),
            compact_every=self.stream_epochs, num_buckets=len(os.sched_getaffinity(0)),
        )
        try:
            for epoch in range(self.stream_epochs):
                part = rows.iloc[epoch * self.stream_rows : (epoch + 1) * self.stream_rows]
                with tracer.span("root", f"epoch {epoch}"):
                    deduper.process_batch(spark.createDataFrame(part), epoch)
            with tracer.span("root", "export"):
                got = checksum(deduper.assignments(), "id", "cluster_id")
            per_epoch = deduper.metrics().collect()
        finally:
            deduper.close()
        want = checksum(self._dedup(spark.createDataFrame(rows), lanes)["assignments"], "id", "cluster_id")
        problems = [] if got == want else [f"stream assignments {got} != dedup_images {want}"]
        n_files = n_bytes = 0
        for dirpath, _, files in os.walk(self.state_root):
            for fn in files:
                n_files += 1
                n_bytes += os.path.getsize(os.path.join(dirpath, fn))
        rows_in = sum(r["rows"] or 0 for r in per_epoch)
        novel = sum(r["novel_rows"] or 0 for r in per_epoch)
        counters = {
            "streaming.cc_s": sum(r["cc_sec"] or 0.0 for r in per_epoch),
            "streaming.compact_s": sum(r["compact_sec"] or 0.0 for r in per_epoch),
            "streaming.novel_ratio": novel / rows_in if rows_in else 0.0,
            "streaming.state_bytes": n_bytes,
            "streaming.state_files": n_files,
            "streaming.export_s": sum(
                s.end - s.start for s in tracer.spans if s.name == "IncrementalDeduper.assignments"
            ),
        }
        return problems, counters


class Tables(Workload):
    def __init__(self, scale: float):
        super().__init__()
        import __spark_entry__ as entry

        self.entry = entry
        self.cfg = entry.DOC_CFG
        # ~15k documents over gen_scaled_sf's 31-word vocabulary put the
        # chain_hub candidate estimate at ~2.8M, above PYGEN_MIN_PAIRS (2M)
        self.n_docs = max(200, int(15000 * scale))
        self.n_lineitem = max(2000, int(60_000 * scale))
        self.oracle_docs = max(50, int(400 * scale))

    def _write_tables(self, out_dir: str, n: int, seed: int) -> int:
        """lineitem / events / orders with the columns the sketch queries
        read, value domains matching the sf0.1 test tables."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        rng = np.random.default_rng(seed)
        n_orders, n_events = max(1, n // 4), max(1, n // 6)
        start = np.datetime64("1992-01-01")
        pq.write_table(pa.table({
            "l_orderkey": rng.integers(1, 4 * n_orders, n),
            "l_partkey": rng.integers(1, 20_001, n),
            "l_suppkey": rng.integers(1, 1_001, n),
            "l_quantity": rng.integers(1, 51, n).astype(np.float64),
            "l_extendedprice": np.round(rng.uniform(900.0, 105_000.0, n), 2),
            "l_returnflag": rng.choice(np.array(["A", "N", "R"]), n),
            "l_linestatus": rng.choice(np.array(["F", "O"]), n),
            "l_shipdate": start + rng.integers(0, 2500, n).astype("timedelta64[D]"),
        }), os.path.join(out_dir, "lineitem.parquet"))
        pq.write_table(pa.table({
            "event_id": np.arange(n_events, dtype=np.int64),
            "user_id": rng.integers(0, 2_000, n_events),
            "event_type": rng.choice(np.array(["view", "click", "purchase", "signup", "error"]), n_events),
            "value": np.round(rng.uniform(0.0, 250.0, n_events), 2),
        }), os.path.join(out_dir, "events.parquet"))
        pq.write_table(pa.table({
            "o_orderkey": np.arange(1, n_orders + 1, dtype=np.int64),
            "o_totalprice": np.round(rng.uniform(900.0, 500_000.0, n_orders), 2),
        }), os.path.join(out_dir, "orders.parquet"))
        return n + n_events + n_orders

    def prepare(self, spark, data_dir: str, seed: int) -> None:
        import pyarrow.parquet as pq

        docs = _script("gen_scaled_sf").gen_documents(self.n_docs, seed=seed)
        self.data_dir = data_dir
        self.docs_path = os.path.join(data_dir, "documents.parquet")
        pq.write_table(docs, self.docs_path)
        self.docs_pdf = docs.to_pandas()
        self.rows = self.n_docs + self._write_tables(data_dir, self.n_lineitem, seed)
        # small tables the warm-up runs the sketch queries over
        self.warm_dir = os.path.join(data_dir, "warm")
        os.makedirs(self.warm_dir, exist_ok=True)
        self._write_tables(self.warm_dir, 2000, seed + 1)

    def _docs_dedup(self, docs):
        from datasketches_cpp_spark.operators.dedup import dedup

        # q_lsh_dedup_clusters
        return dedup(docs, "doc_id", "text", self.cfg)[0]

    def _substring(self, docs):
        from datasketches_cpp_spark.operators.substring import substring_pairs

        # q_substring_pairs
        return substring_pairs(docs, "doc_id", "text", self.cfg, max_posting_list=4096).select("a", "b")

    def warm_up(self, spark):
        """Document dedup and substring pairs over the oracle slice and,
        on a second driver thread at the same time, the sketch queries over
        small tables: both halves are mostly first-run cost (JIT, code
        generation, Python worker start), which overlaps."""
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(1) as pool:
            sketches = pool.submit(self._sketches, spark, None, self.warm_dir)
            sl = self.docs_pdf.iloc[: self.oracle_docs].reset_index(drop=True)
            df = spark.createDataFrame(sl)
            self._slice = sl
            self._slice_asg = {r["id"]: r["cluster_id"] for r in self._docs_dedup(df).collect()}
            self._slice_sub = {(r["a"], r["b"]) for r in self._substring(df).collect()}
            sketches.result()

    def _oracle(self) -> dict:
        import duckdb

        con = duckdb.connect()
        try:
            for t in ("lineitem", "events", "orders"):
                con.execute(f"create view {t} as select * from '{os.path.join(self.data_dir, t)}.parquet'")
            sql = self.entry.oracle_sql()
            return {q: con.execute(sql[q]).df() for _, q in SKETCH_QUERIES if q in sql}
        finally:
            con.close()

    def check_setup(self, spark) -> list[str]:
        from pyspark.sql import functions as F

        from datasketches_cpp_spark.oracle.pydedup import oracle_dedup
        from datasketches_cpp_spark.oracle.pyimages import oracle_substring_pairs
        from datasketches_cpp_spark.plans.checkpoint import checksum

        problems = []
        ids, texts = self._slice["doc_id"].tolist(), self._slice["text"].tolist()
        want, _, _ = oracle_dedup(ids, texts, self.cfg)
        if _partition(want) != _partition(self._slice_asg):
            problems.append(f"dedup on the first {self.oracle_docs} documents differs from oracle/pydedup")
        if set(oracle_substring_pairs(ids, texts, self.cfg, max_posting_list=4096)) != self._slice_sub:
            problems.append(f"substring_pairs on the first {self.oracle_docs} documents differs from oracle/pyimages")
        docs = spark.read.parquet(self.docs_path)
        self.ids_checksum = checksum(docs.select(F.col("doc_id").alias("id")), "id")
        self.docs = docs.select("doc_id", "text").persist()
        self.oracle_answers = self._oracle()
        return problems

    def _sketches(self, spark, tracer, data_dir: str) -> dict:
        queries = self.entry.queries()
        answers = {}
        for family, q in SKETCH_QUERIES:
            span = tracer.span(f"functions.{family}", q) if tracer else nullcontext()
            with span:
                answers[q] = queries[q](spark, data_dir).toPandas()
        return answers

    def _compare_sketches(self, got: dict, want: dict) -> list[str]:
        """Answers with an ``oracle_sql`` twin must match it by the
        correctness gate's value hash. ``tdigest_price_tails`` has no twin
        (rows-only in ``__spark_entry__``); it is held to iteration-to-iteration
        identity through the signature instead."""
        problems = []
        for _, q in SKETCH_QUERIES:
            if q in want and _value_hash(got[q]) != _value_hash(want[q]):
                problems.append(f"{q} differs from its oracle_sql twin")
        return problems

    def iteration(self, spark, tracer=None) -> dict:
        docs = _read(spark, self.docs_path, tracer)
        return {
            "assignments": self.keep(self._docs_dedup(docs)),
            "substring": self.keep(self._substring(docs)),
            "answers": self._sketches(spark, tracer, self.data_dir),
        }

    def check(self, spark, out: dict) -> tuple[list[str], dict]:
        from pyspark.sql import functions as F

        from datasketches_cpp_spark.plans.checkpoint import checksum

        asg = out["assignments"]
        problems = self._ids_once(asg, self.ids_checksum, self.n_docs)
        # planted exact duplicates (identical text) share one cluster
        split = (
            self.docs.join(asg, self.docs["doc_id"] == asg["id"])
            .groupBy("text").agg(F.countDistinct("cluster_id").alias("c"))
            .where("c > 1").count()
        )
        if split:
            problems.append(f"{split} identical texts split across clusters")
        problems += self._compare_sketches(out["answers"], self.oracle_answers)
        signature = {
            "assignments": checksum(asg, "id", "cluster_id"),
            "substring": checksum(out["substring"], "a", "b"),
            **{q: _value_hash(a) for q, a in out["answers"].items()},
        }
        return problems, signature


WORKLOADS = {"images": Images, "tables": Tables}
