"""The benchmark workloads: one closed-loop client each, every answer checked.

Every workload fills the same four op slots, so that all workloads report
the same metric names:

    slot     table_io              ann_lifecycle                   ingest_dedup
    load     bulk_write            ann_build                       ingest_build
    read     scan                  ann_query                       ingest_exact
    probe    pruned_scan, tail     ann_check (consistency check)   ingest_neardups
    commit   partition_write       ann_append                      ingest_append

A workload is a class with ``setup`` (inputs, session-side state, untimed
warm-up calls of every loop op), ``step`` (one round of the loop),
``has_inputs`` (whether generated inputs are left for another round),
``read_again`` (one more untimed call of its read op, on an input it
leaves unchanged; the traced run uses it to measure the tracing
overhead) and ``finish`` (closing ops and checks). The ``Bench`` runner
times each op, checks its answer and counts failures.
"""

from __future__ import annotations

import os

import numpy as np
from pyspark.sql import functions as F
from pyspark.sql import types as T

from hive_io_experimental_spark.catalog import Catalog
from hive_io_experimental_spark.input import HiveInput, ScanSpec
from hive_io_experimental_spark.operators import ingestion, similarity
from hive_io_experimental_spark.output import HiveOutput, WriteSpec
from hive_io_experimental_spark.schema import HiveTableSchema

from perfbench import gen

SLOTS = ("load", "read", "probe", "commit")
OP_SLOT = {
    "bulk_write": "load", "scan": "read", "pruned_scan": "probe",
    "tail": "probe", "partition_write": "commit",
    "ann_build": "load", "ann_query": "read", "ann_check": "probe",
    "ann_append": "commit",
    "ingest_build": "load", "ingest_exact": "read",
    "ingest_neardups": "probe", "ingest_append": "commit",
}


class WrongAnswer(Exception):
    """An op returned, but not what the generator expected."""


def expect(cond: bool, what: str) -> None:
    if not cond:
        raise WrongAnswer(what)


def dir_mb(path: str) -> float:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total / gen.MB


# -- table_io -----------------------------------------------------------------

FACT_SCHEMA = HiveTableSchema(
    (("a", T.LongType()), ("b", T.LongType()), ("c", T.DoubleType()),
     ("s", T.StringType())),
    ("p",),
)


class TableIO:
    """The reference's own surface: partitioned bulk loads, static-partition
    writes, projected and partition-pruned scans, and hivetail reads of one
    fact table, all through ``Catalog``/``HiveInput``/``HiveOutput``."""

    name = "table_io"

    def setup(self, bench) -> None:
        spark = bench.spark
        self.d = gen.make_table_io(bench.seed, bench.data_dir)
        self.cat = Catalog(os.path.join(bench.work_dir, "warehouse"))
        self.inp = HiveInput(spark, self.cat)
        self.out = HiveOutput(spark, self.cat)
        self.cat.create_table("default.fact", FACT_SCHEMA)
        self.cat.create_table("default.bulk", FACT_SCHEMA)
        self.out.write_dynamic("default.fact", spark.read.parquet(self.d["fact"]))
        self.bulk_src = [spark.read.parquet(b["path"]) for b in self.d["bulk"]]
        self.static_src = [spark.read.parquet(s["path"]) for s in self.d["static"]]
        # static partitions w0..w3 of the fact table, each holding one slice;
        # the loop overwrites them, so every timed write has the same shape
        self.written: dict[str, int] = {}
        for j in range(len(self.static_src)):
            self._partition_write(bench, j, j, warm=True)
        self.round = 0
        self.user_mb = 0.0
        self._bulk_write(bench, 0, warm=True)
        self._scan(bench, warm=True)
        self._pruned_scan(bench, 0, warm=True)
        self._tail(bench, warm=True)

    def step(self, bench) -> None:
        r = self.round
        self.round += 1
        n_static = len(self.static_src)
        self._scan(bench)
        self._pruned_scan(bench, r)
        self._tail(bench)
        self._partition_write(bench, r % n_static, (r + 1) % n_static)
        self._pruned_scan(bench, r + 7)
        self._tail(bench)
        self._bulk_write(bench, (r + 1) % len(self.bulk_src))

    def has_inputs(self) -> bool:
        return True  # the loop cycles through its inputs

    def read_again(self, bench):
        return self._scan(bench, warm=True)

    def finish(self, bench) -> None:
        wh = dir_mb(self.cat.warehouse_dir)
        bench.layer["storage.bytes_per_user_byte"] = wh / self.user_mb
        loc = self.cat.table_location("default.fact")
        bench.layer["storage.mb_per_commit"] = dir_mb(
            Catalog.partition_path(loc, {"p": "w0"}))

    def _scan(self, bench, warm=False) -> None:
        def run():
            return self.inp.read_table(
                ScanSpec(table="default.fact", columns=("a", "b", "c"))
            ).agg(
                F.sum("a").alias("a"), F.sum("b").alias("b"),
                F.sum("c").alias("c"), F.count(F.lit(1)).alias("rows"),
            ).collect()[0]

        def check(row):
            want = dict(self.d["total"])
            for j in self.written.values():
                for key in ("rows", "a", "b", "c"):
                    want[key] += self.d["static"][j][key]
            expect(row["rows"] == want["rows"], f"scan rows {row['rows']} != {want['rows']}")
            expect(row["a"] == want["a"] and row["b"] == want["b"], "scan long sums differ")
            expect(abs(row["c"] - want["c"]) <= 1e-9 * want["rows"], "scan double sum differs")
            # decoded bytes of the three projected 8-byte columns
            return {"mb": row["rows"] * 24 / gen.MB}

        return bench.op("scan", run, check, warm)

    def _pruned_scan(self, bench, r: int, warm=False) -> None:
        part = self.d["partitions"][r % len(self.d["partitions"])]

        def run():
            return self.inp.read_table(
                ScanSpec(table="default.fact", columns=("a", "b", "c"),
                         partition_filter=f"p = '{part}'")
            ).agg(
                F.sum("a").alias("a"), F.sum("b").alias("b"),
                F.count(F.lit(1)).alias("rows"),
            ).collect()[0]

        def check(row):
            want = self.d["per_part"][part]
            expect(row["rows"] == want["rows"], f"partition {part} row count differs")
            expect(row["a"] == want["a"] and row["b"] == want["b"],
                   f"partition {part} sums differ")
            return {"rows": row["rows"]}

        bench.op("pruned_scan", run, check, warm)

    def _tail(self, bench, warm=False) -> None:
        def run():
            return list(self.inp.read_records(ScanSpec(table="default.fact", limit=100)))

        def check(recs):
            expect(len(recs) == 100, f"tail returned {len(recs)} rows")
            for rec in recs:
                expect(rec.num_columns == len(self.d["columns"]), "tail column count")
                # typed getters raise on a schema mismatch
                rec.get_long(0), rec.get_long(1), rec.get_double(2)
                rec.get_string(3), rec.get_string(4)

        bench.op("tail", run, check, warm)

    def _partition_write(self, bench, j: int, slice_: int, warm=False) -> None:
        part = f"w{j}"
        spec = WriteSpec(table="default.fact", partition_values={"p": part},
                         drop_partition=part in self.written)

        def run():
            self.out.write_table(spec, self.static_src[slice_])

        def check(_):
            self.written[part] = slice_
            rows = {p.values["p"]: p.stats.num_rows
                    for p in self.cat.list_partitions("default.fact")}
            expect(rows.get(part) == gen.STATIC_ROWS, f"partition {part} stats differ")

        bench.op("partition_write", run, check, warm)

    def _bulk_write(self, bench, i: int, warm=False) -> None:
        want = self.d["bulk"][i]["part_rows"]

        def run():
            return self.out.write_dynamic(
                "default.bulk", self.bulk_src[i], drop_partitions=True
            )

        def check(specs):
            expect({s["p"] for s in specs} == {p for p, n in want.items() if n},
                   "bulk write registered other partitions")
            rows = {p.values["p"]: p.stats.num_rows
                    for p in self.cat.list_partitions("default.bulk")}
            expect(all(rows.get(p, 0) == n for p, n in want.items()),
                   "bulk write partition stats differ")
            self.user_mb = (
                os.path.getsize(self.d["fact"])
                + os.path.getsize(self.d["bulk"][i]["path"])
                + sum(os.path.getsize(self.d["static"][j]["path"])
                      for j in self.written.values())
            ) / gen.MB

        bench.op("bulk_write", run, check, warm)


# -- ann_lifecycle ------------------------------------------------------------

# Odd strides: the index is built on the even ids, and even ids that are
# multiples of an odd stride S are exactly the multiples of 2S, so a direct
# run over the full corpus with strides 2S samples the same centroids and
# codewords. That makes the final consistency check exact after appends.
CENTROID_STRIDE = 101
PQ_STRIDE = 25
NPROBE = 4
# query batches per append: an assumption (read-heavy, as in an interactive
# session); perfbench/README.md ("Assumptions") shows the gated times are
# not sensitive to it
QUERIES_PER_APPEND = 2


class AnnLifecycle:
    """IVF-PQ artifact lifecycle: build once, then append batches, each
    followed by several query batches, then a consistency check."""

    name = "ann_lifecycle"
    index = "default.ann_ix"
    # untimed rounds before the loop: after one, the first timed queries
    # still cost up to twice the CPU of later ones
    warm_up_rounds = 2

    def setup(self, bench) -> None:
        spark = bench.spark
        self.d = gen.make_ann(bench.seed, bench.data_dir)
        self.cat = Catalog(os.path.join(bench.work_dir, "warehouse"))
        self.corpus_ids = set(self.d["base_ids"].tolist())
        self.corpus_vecs = [self.d["base_vecs"]]
        self.corpus_idx = [self.d["base_ids"]]
        self.appended: list[str] = []
        self.queries = [spark.read.parquet(q["path"]) for q in self.d["queries"]]
        self.n_query = self.n_append = 0
        self.version = None
        self.recall: list[float] = []

        def build():
            similarity.ivf_pq_build_index(
                spark, self.cat, self.index, spark.read.parquet(self.d["base"]),
                centroid_stride=CENTROID_STRIDE, pq_stride=PQ_STRIDE,
                max_codes=128,
            )

        def check(_):
            self.built_mb = self._index_mb()

        # the build is the lifecycle's one-shot load: timed, not warm-up
        bench.op("ann_build", build, check, warm=False)
        for _ in range(self.warm_up_rounds):
            self._query(bench, warm=True)
            self._append(bench, warm=True)

    def step(self, bench) -> None:
        self._append(bench)
        for _ in range(QUERIES_PER_APPEND):
            if not bench.time_left():
                break
            self._query(bench)

    def has_inputs(self) -> bool:
        return self.n_append < len(self.d["appends"])

    def read_again(self, bench):
        return self._query(bench, warm=True)

    def finish(self, bench) -> None:
        spark = bench.spark
        corpus = spark.read.parquet(self.d["base"], *self.appended)
        q = self.d["queries"][0]
        k = self.d["k"]

        def run():
            return similarity.ivf_pq_index_consistency_check(
                spark, self.cat, self.index, corpus, self.queries[0], k=k,
                nprobe=NPROBE, centroid_stride=2 * CENTROID_STRIDE,
                pq_stride=2 * PQ_STRIDE, max_codes=128,
            ).collect()[0]

        def check(row):
            expect(row["n_mismatch"] == 0, f"index serves {row['n_mismatch']} mismatched rows")
            expect(row["n_queries"] == len(q["ids"]), "consistency check query count")
            expect(row["n_served"] == len(q["ids"]) * k, "consistency check served rows")

        bench.op("ann_check", run, check, warm=False)
        grown = self._index_mb() - self.built_mb
        bench.layer["storage.mb_per_commit"] = grown / max(1, self.n_append)
        vec_mb = sum(len(i) for i in self.corpus_idx) * gen.DIM * 8 / gen.MB
        bench.layer["storage.bytes_per_user_byte"] = self._index_mb() / vec_mb
        bench.layer["quality.useful_ratio"] = float(np.mean(self.recall))

    def _index_mb(self) -> float:
        return sum(
            dir_mb(self.cat.table_location(f"{self.index}{sfx}"))
            for sfx in ("", "_codebooks", "_centroids", "_lists")
        )

    def _query(self, bench, warm=False) -> None:
        i = self.n_query % len(self.queries)
        self.n_query += 1
        q = self.d["queries"][i]
        k = self.d["k"]

        def run():
            return similarity.ivf_pq_query_index(
                bench.spark, self.cat, self.index, self.queries[i], k=k,
                nprobe=NPROBE,
            ).collect()

        def check(rows):
            expect(len(rows) == len(q["ids"]) * k, f"query returned {len(rows)} rows")
            by_q: dict[int, list] = {}
            for r in rows:
                by_q.setdefault(r["query_id"], []).append(r)
            expect(set(by_q) == set(q["ids"].tolist()), "query ids differ")
            for got in by_q.values():
                expect(sorted(r["rank"] for r in got) == list(range(1, k + 1)),
                       "ranks are not 1..k")
                expect(all(r["neighbor_id"] in self.corpus_ids for r in got),
                       "neighbor outside the corpus")
            truth = gen.brute_force_topk(
                np.concatenate(self.corpus_idx), np.concatenate(self.corpus_vecs),
                q["vecs"], k,
            )
            hits = sum(
                len({r["neighbor_id"] for r in by_q[qid]} & set(truth[n].tolist()))
                for n, qid in enumerate(q["ids"].tolist())
            )
            self.recall.append(hits / truth.size)

        return bench.op("ann_query", run, check, warm)

    def _append(self, bench, warm=False) -> None:
        batch = self.d["appends"][self.n_append]
        self.n_append += 1

        def run():
            return similarity.ivf_pq_append_to_index(
                bench.spark, self.cat, self.index,
                bench.spark.read.parquet(batch["path"]),
            )

        def check(version):
            expect(self.version is None or version == self.version + 1,
                   f"append committed version {version} after {self.version}")
            self.version = version
            self.appended.append(batch["path"])
            self.corpus_ids.update(batch["ids"].tolist())
            self.corpus_idx.append(batch["ids"])
            self.corpus_vecs.append(batch["vecs"])

        bench.op("ann_append", run, check, warm)


# -- ingest_dedup -------------------------------------------------------------


class IngestDedup:
    """Ingestion-artifact lifecycle: build the corpus artifacts once, then
    ticks of exact dedup, near-dup candidates and an append of the
    survivors (raw parquet plus a manifest, not the catalog)."""

    name = "ingest_dedup"
    # untimed ticks before the loop: timed ticks cost the same from the
    # first one on
    warm_up_ticks = 1

    def setup(self, bench) -> None:
        spark = bench.spark
        self.d = gen.make_ingest(bench.seed, bench.data_dir)
        self.path = os.path.join(bench.work_dir, "artifacts")
        self.known_ids = set(self.d["corpus_ids"].tolist())
        self.tick = 0
        self.n_keys = None
        self.candidates = self.planted = self.found = 0

        def build():
            return ingestion.build_corpus_artifacts(
                spark.read.parquet(self.d["corpus"]), self.path
            )

        def check(man):
            expect(man["n_keys"] == len(self.known_ids), "build n_keys differs")
            self.n_keys = man["n_keys"]
            self.built_mb = dir_mb(self.path)

        bench.op("ingest_build", build, check, warm=False)
        for _ in range(self.warm_up_ticks):
            self._tick(bench, warm=True)

    def step(self, bench) -> None:
        self._tick(bench)

    def has_inputs(self) -> bool:
        # the last batch is never appended: read_again dedups it
        return self.tick < len(self.d["batches"]) - 1

    def read_again(self, bench):
        b = self.d["batches"][self.tick]
        return self._exact(bench, b, bench.spark.read.parquet(b["path"]), warm=True)

    def finish(self, bench) -> None:
        ticks = max(1, self.tick)
        bench.layer["storage.mb_per_commit"] = (dir_mb(self.path) - self.built_mb) / ticks
        text_mb = sum(os.path.getsize(b["path"]) for b in self.d["batches"][:ticks])
        text_mb = (text_mb + os.path.getsize(self.d["corpus"])) / gen.MB
        bench.layer["storage.bytes_per_user_byte"] = dir_mb(self.path) / text_mb
        bench.layer["quality.useful_ratio"] = self.found / max(1, self.candidates)
        bench.layer["ingest.neardup_candidates_per_planted_pair"] = (
            self.candidates / max(1, self.planted)
        )

    def _exact(self, bench, b: dict, batch, warm: bool):
        def run():
            return ingestion.ingest_batch(batch, self.path).collect()

        def check(rows):
            ids = [r["id"] for r in rows]
            expect(len(ids) == len(set(ids)), "duplicate survivor ids")
            expect(set(ids) == b["survivors"],
                   f"{len(set(ids) ^ b['survivors'])} survivors differ")

        return bench.op("ingest_exact", run, check, warm)

    def _tick(self, bench, warm=False) -> None:
        spark = bench.spark
        b = self.d["batches"][self.tick]
        self.tick += 1
        batch = spark.read.parquet(b["path"])
        # the generator's survivor rows, read before the timed append so the
        # append op times append_to_artifacts alone
        accepted = spark.read.parquet(b["accepted"])

        def near():
            return ingestion.ingest_batch_neardups(batch, self.path).collect()

        def check_near(rows):
            pairs = {(r["batch_id"], r["corpus_id"]) for r in rows}
            batch_ids = set(b["ids"].tolist())
            expect(len(pairs) == len(rows), "duplicate candidate pairs")
            expect(all(x in batch_ids and y in self.known_ids for x, y in pairs),
                   "candidate pair with an unknown id")
            self.candidates += len(pairs)
            self.planted += len(b["planted_pairs"])
            self.found += len(pairs & b["planted_pairs"])

        def append():
            return ingestion.append_to_artifacts(accepted, self.path)

        def check_append(man):
            want = self.n_keys + len(b["survivors"])
            expect(man["n_keys"] == want, f"manifest n_keys {man['n_keys']} != {want}")
            self.n_keys = want
            self.known_ids.update(b["survivors"])

        self._exact(bench, b, batch, warm)
        bench.op("ingest_neardups", near, check_near, warm)
        bench.op("ingest_append", append, check_append, warm)


WORKLOADS = {w.name: w for w in (TableIO, AnnLifecycle, IngestDedup)}
