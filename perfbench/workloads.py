"""The benchmark's workloads: ``ingest_index`` (the ETL pipeline, then
persisted-store appends, compaction and probes) and ``query_mix``
(read-only corpus queries).

Each workload generates its inputs from the seed alone (through
``tools/gen_testdata.generate`` and, for the ETL, the seeded DataJud
stand-in below), runs one pass of library calls through
``Recorder.op``, and checks the pass's outputs with ``Recorder.check``.

Spans name the library layer each call enters.  A workload lists every
span it can enter in ``spans``; the traced run reports all spans of all
workloads, so a layer a workload never calls reads 0 there.
"""

from __future__ import annotations

import csv
import datetime as dt
import glob
import os
import random
import time

from perfbench.tracing import Recorder


def _hash_rows():
    """``tools/check_correctness.hash_rows``, the canonical order-
    insensitive result hash.  That module prepends a fixed checkout path
    to ``sys.path`` on import; drop it again so this checkout's modules
    stay the ones imported."""
    import sys

    before = list(sys.path)
    from tools.check_correctness import hash_rows

    sys.path[:] = before
    return hash_rows

TRIBUNAIS = ["TJCE", "TJSP", "TJRJ", "TJMG", "TJRS", "TJPR", "TJBA", "TJPE"]
SP_OFFSET_H = -3  # America/Sao_Paulo has had no DST since 2019
T_END = int(dt.datetime(2024, 12, 31, 23, 59, tzinfo=dt.timezone.utc).timestamp())
FIVE_YEARS_S = 5 * 365 * 86_400
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def _iso(ts: int) -> str:
    return time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime(ts))


def _parquet_rows(path: str) -> int:
    """Rows in the Parquet files under ``path``, from their footers (no
    Spark job, so the check costs the run next to nothing)."""
    import pyarrow.parquet as papq

    return sum(
        papq.read_metadata(os.path.join(root, f)).num_rows
        for root, _dirs, files in os.walk(path)
        for f in files
        if f.endswith(".parquet")
    )


def _tree_bytes(path: str, suffixes: tuple[str, ...]) -> tuple[int, int]:
    """(files, bytes) of the data files under ``path``."""
    n = total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(suffixes):
                n += 1
                total += os.path.getsize(os.path.join(root, f))
    return n, total


class SyntheticDataJud:
    """Seeded stand-in for the DataJud ``_search`` endpoint.

    Serves ``n`` hits per tribunal sorted by ``dataAjuizamento`` desc,
    ``payload["size"]`` at a time, and resumes after the ``search_after``
    cursor (``[epoch_ms, position]``), so the source's keyset pagination
    and its empty-page stop guard run as against the real API.  Hit ``i``
    of a tribunal is a pure function of ``(seed, tribunal, i)``.  Two
    optional accumulators count pages served and seconds spent serving
    them; the transport runs inside Spark tasks, so they are the only way
    to see source time apart from the flatten and write it is fused with.
    """

    def __init__(self, seed: int, n: int, municipios: list[int], pages=None, seconds=None):
        self.seed = seed
        self.n = n
        self.step = FIVE_YEARS_S // n
        self.municipios = municipios
        self.pages = pages
        self.seconds = seconds

    def timestamp(self, trib: str, i: int) -> int:
        """Strictly decreasing in ``i``: one hit per ``step`` seconds."""
        h = (self.seed * 0x9E3779B1 ^ TRIBUNAIS.index(trib) * 0x85EBCA6B ^ i * 0xC2B2AE35)
        return T_END - i * self.step - (h & 0xFFFFFFFF) % self.step

    def hit(self, trib: str, i: int) -> dict:
        rng = random.Random((self.seed * 64 + TRIBUNAIS.index(trib)) * 10_000_019 + i)
        ts = self.timestamp(trib, i)
        movs = sorted(
            (ts + rng.randrange(1, 400 * 86_400) for _ in range(rng.randint(1, 4))),
            reverse=True,
        )
        return {
            "_source": {
                "numeroProcesso": f"{trib}{self.seed:04d}{i:08d}",
                "classe": {"codigo": 12729 + i % 3, "nome": f"Classe {i % 3}"},
                "dataAjuizamento": _iso(ts),
                "dataHoraUltimaAtualizacao": _iso(movs[0]),
                "formato": {"nome": "Eletrônico" if i % 5 else "Físico"},
                "orgaoJulgador": {
                    "codigo": str(rng.randrange(1000)),
                    "nome": f"Vara {rng.randrange(40)} de {trib}",
                    "codigoMunicipioIBGE": str(rng.choice(self.municipios)),
                },
                "grau": "G1" if i % 4 else "G2",
                "assuntos": [
                    {"nome": f"Assunto {rng.randrange(60)}"}
                    for _ in range(rng.randint(0, 3))
                ],
                "movimentos": [
                    {"codigo": rng.randrange(1, 900), "nome": f"Mov {k}", "dataHora": _iso(m)}
                    for k, m in enumerate(movs)
                ],
            },
            "sort": [ts * 1000, i],
        }

    def __call__(self, url: str, headers: dict, payload: dict) -> tuple[int, dict]:
        t0 = time.perf_counter()
        trib = url.split("api_publica_")[1].split("/")[0].upper()
        after = payload.get("search_after")
        start = 0 if after is None else int(after[1]) + 1
        stop = min(start + int(payload["size"]), self.n)
        hits = [self.hit(trib, i) for i in range(start, stop)]
        if self.pages is not None:
            self.pages.add(1)
            self.seconds.add(time.perf_counter() - t0)
        return 200, {"hits": {"hits": hits}}


class Workload:
    """One pass of library calls over seeded inputs, and its checks."""

    name = ""
    sf: float | None = 0.01  # gen_testdata scale factor; None: no tables
    spans: tuple[str, ...] = ()
    latency_spans: tuple[str, ...] = ()  # the calls op_p50_s/op_tail_s time
    nominal_pass_s = 10.0  # a warm pass on a quiet 4-CPU host; sets the pass count
    aliases: dict[str, str] = {}  # workload names for generic metrics

    def prepare(self, data_dir: str, seed: int) -> None:
        """Derive inputs and expected outputs; runs no Spark job."""

    def bind(self, spark) -> None:
        """(Re)create what belongs to one Spark session."""

    def run_pass(self, spark, rec: Recorder, out_dir: str):
        raise NotImplementedError

    def check_pass(self, spark, rec: Recorder, out_dir: str, result) -> None:
        """Checks after every pass (untimed)."""

    def check_final(self, spark, rec: Recorder, out_dir: str) -> None:
        """Costlier checks on the last pass's outputs (untimed)."""

    def layer_extras(self, traced_ops, by_op, traced_results) -> dict[str, float]:
        """Workload-specific layer counters of the traced passes."""
        return {}

    input_rows = 0  # rows a pass reads or ingests; rows_per_s = input_rows / pass_s
    bytes_per_row = 0.0


# ── ingest_index, part 1: the ETL ─────────────────────────────────────────


class EtlIngest(Workload):
    """The reference EP1: DataJud pages → flatten → date filter →
    municipio broadcast join → Parquet → read back and count → CSV →
    hour-of-day histogram."""

    tribunais = TRIBUNAIS[:4]
    hits_per_tribunal = 1000
    de, ate = "2021-01-01", "2023-12-31"
    spans = (
        "pipeline.build_dataframe",
        "sinks.write_parquet",
        "pipeline.count",
        "sinks.write_csv",
        "sinks.plot_horario",
    )

    def prepare(self, data_dir: str, seed: int) -> None:
        rng = random.Random(seed)
        self.seed = seed
        # 200 known municipios; hits also cite 50 unknown codes, which the
        # join must leave as the raw code
        known = [2_300_000 + k for k in range(200)]
        self.mun_names = {c: f"Municipio {c} {rng.randrange(10**6)}" for c in known}
        cited = known + [2_900_000 + k for k in range(50)]
        self.mun_csv = os.path.join(data_dir, "municipios.csv")
        with open(self.mun_csv, "w", newline="", encoding="utf-8") as f:
            w = csv.writer(f)
            w.writerow(["CD_UF", "NM_UF", "NM_UF_SIGLA", "CD_MUN", "NM_MUN", "AR_MUN_2024"])
            for c, nm in self.mun_names.items():
                w.writerow([23, "Ceará", "CE", c, nm, 100.5])
        self.cited = cited
        # expected output, from the same generator the transport uses
        fake = SyntheticDataJud(seed, self.hits_per_tribunal, cited)
        # the filter's bounds are São Paulo midnights, inclusive
        lo, hi = (
            int(dt.datetime.fromisoformat(d).replace(tzinfo=dt.timezone.utc).timestamp())
            - SP_OFFSET_H * 3600
            for d in (self.de, self.ate)
        )
        self.expected_rows = 0
        self.expected_named = 0
        self.expected_hours: dict[int, int] = {}
        for trib in self.tribunais:
            for i in range(self.hits_per_tribunal):
                ts = fake.timestamp(trib, i)
                if not lo <= ts <= hi:
                    continue
                self.expected_rows += 1
                hour = (ts // 3600 + SP_OFFSET_H) % 24
                self.expected_hours[hour] = self.expected_hours.get(hour, 0) + 1
                mun = int(fake.hit(trib, i)["_source"]["orgaoJulgador"]["codigoMunicipioIBGE"])
                self.expected_named += mun in self.mun_names
        self.input_rows = len(self.tribunais) * self.hits_per_tribunal

    def bind(self, spark) -> None:
        sc = spark.sparkContext
        self.pages = sc.accumulator(0)
        self.transport_s = sc.accumulator(0.0)
        self.transport = SyntheticDataJud(
            self.seed, self.hits_per_tribunal, self.cited, self.pages, self.transport_s
        )

    def run_pass(self, spark, rec: Recorder, out_dir: str):
        from jurimetria_etl_spark.pipeline import build_dataframe
        from jurimetria_etl_spark.sinks.writers import (
            plot_horario,
            render_movimentos_json,
            write_csv,
            write_parquet,
        )
        from jurimetria_etl_spark.sources.datajud import DataJudSource

        pq = os.path.join(out_dir, "jurimetria.parquet")
        pages0, secs0 = self.pages.value, self.transport_s.value
        df = rec.op(
            "pipeline.build_dataframe",
            lambda: render_movimentos_json(
                build_dataframe(
                    spark,
                    self.tribunais,
                    de=self.de,
                    ate=self.ate,
                    municipios_path=self.mun_csv,
                    source=DataJudSource(spark, transport=self.transport),
                )
            ),
        )
        rec.op("sinks.write_parquet", lambda: write_parquet(df, pq, single_file=True))
        total = rec.op("pipeline.count", lambda: spark.read.parquet(pq).count())
        rec.op(
            "sinks.write_csv",
            lambda: write_csv(
                spark.read.parquet(pq), os.path.join(out_dir, "jurimetria.csv"), single_file=True
            ),
        )
        rec.op(
            "sinks.plot_horario",
            lambda: plot_horario(
                spark.read.parquet(pq), os.path.join(out_dir, "horario_jurimetria.jpg")
            ),
        )
        return {
            "total": total,
            "pages": self.pages.value - pages0,
            "transport_s": self.transport_s.value - secs0,
        }

    def check_pass(self, spark, rec: Recorder, out_dir: str, result) -> None:
        rec.check(
            "etl.rows",
            result["total"] == self.expected_rows,
            f"{result['total']} != {self.expected_rows}",
        )
        # every tribunal pages until the empty page after its last hit
        pages = len(self.tribunais) * (-(-self.hits_per_tribunal // 1000) + 1)
        rec.check("etl.pages", result["pages"] == pages, f"{result['pages']} != {pages}")
        _, pq_bytes = _tree_bytes(os.path.join(out_dir, "jurimetria.parquet"), (".parquet",))
        _, csv_bytes = _tree_bytes(os.path.join(out_dir, "jurimetria.csv"), (".csv",))
        self.bytes_per_row = (pq_bytes + csv_bytes) / max(self.expected_rows, 1)

    def check_final(self, spark, rec: Recorder, out_dir: str) -> None:
        import pyarrow as pa
        import pyarrow.parquet as papq

        # read back with pyarrow rather than Spark: an independent reader,
        # and no Spark jobs after the measured passes
        back = papq.read_table(
            os.path.join(out_dir, "jurimetria.parquet"), columns=["data_ajuizamento", "municipio"]
        )
        epoch = back.column("data_ajuizamento").cast(pa.timestamp("s"), safe=False).cast(pa.int64())
        hours: dict[int, int] = {}
        for ts in epoch.to_pylist():
            hour = (ts // 3600 + SP_OFFSET_H) % 24
            hours[hour] = hours.get(hour, 0) + 1
        rec.check("etl.hour_histogram", hours == self.expected_hours)
        rec.check(
            "etl.hour_histogram_sum",
            sum(hours.values()) == self.expected_rows,
            f"{sum(hours.values())} != {self.expected_rows}",
        )
        names = set(self.mun_names.values())
        named = sum(m in names for m in back.column("municipio").to_pylist())
        rec.check("etl.municipio_join", named == self.expected_named, f"{named} != {self.expected_named}")
        csv_rows = 0
        for part in glob.glob(os.path.join(out_dir, "jurimetria.csv", "*.csv")):
            with open(part, newline="", encoding="utf-8") as f:
                csv_rows += sum(1 for _ in csv.reader(f)) - 1
        rec.check("etl.csv_rows", csv_rows == self.expected_rows, f"{csv_rows} != {self.expected_rows}")

    def layer_extras(self, traced_ops, by_op, traced_results) -> dict[str, float]:
        import statistics

        return {
            "sources.pages": statistics.median(r["pages"] for r in traced_results),
            "sources.transport_s": statistics.median(r["transport_s"] for r in traced_results),
        }


# ── ingest_index, part 2: persisted stores ────────────────────────────────


class StoreServe(Workload):
    """Persisted stores as a retrieval service keeps them.  Each pass
    builds a fresh BM25 index in one append and a fresh IVF ANN store in
    two (the second lands in a store that already has data), compacts the
    ANN store's per-batch files, and probes both stores."""

    sf = 0.02
    n_cells, n_probe, k, n_probes = 16, 2, 10, 4
    spans = (
        "operators.ann_store.append",
        "operators.search.append",
        "operators.ann_store.probe",
        "operators.search.probe",
        "sinks.maintenance.compact",
    )
    TEXT_SUBDIRS = ("postings", "doc_lens", "stats", "term_df")

    def prepare(self, data_dir: str, seed: int) -> None:
        import numpy as np
        import pyarrow.parquet as papq

        from tools.gen_testdata import VOCAB

        self.data_dir = data_dir
        emb = papq.read_table(f"{data_dir}/embeddings.parquet", columns=["vec_id", "embedding"])
        ids = emb.column("vec_id").to_numpy()
        vecs = np.array(emb.column("embedding").to_pylist(), dtype=np.float32)
        order = np.argsort(ids)
        ids, vecs = ids[order], vecs[order]
        self.ids, self.vecs = ids, vecs.astype(np.float64)
        self.n_vec = len(ids)
        # the lowest-id vectors seed the cells (ivf_index's rule)
        self.centroids = [(c, [float(x) for x in vecs[c]]) for c in range(self.n_cells)]
        rng = np.random.default_rng(seed)
        pick = rng.choice(self.n_vec, self.n_probes, replace=False)
        jitter = rng.normal(0, 0.05, (self.n_probes, vecs.shape[1])).astype(np.float32)
        self.probes = [
            (int(q), [float(x) for x in vecs[i] + jitter[q]]) for q, i in enumerate(pick)
        ]
        self.n_docs = papq.read_metadata(f"{data_dir}/documents.parquet").num_rows
        words = random.Random(seed)
        self.text_queries = [(q, " ".join(words.sample(VOCAB, 3))) for q in range(8)]
        self.input_rows = self.n_vec + self.n_docs

    def run_pass(self, spark, rec: Recorder, out_dir: str):
        from pyspark.sql import functions as F

        from jurimetria_etl_spark.operators.ann_store import (
            ann_ivf_topk_store_batch,
            append_ann_store,
        )
        from jurimetria_etl_spark.operators.search import (
            append_text_index,
            bm25_search,
            load_text_index,
        )
        from jurimetria_etl_spark.sinks.maintenance import compact_store

        ann, text = os.path.join(out_dir, "ann"), os.path.join(out_dir, "text")

        def ann_append(b: int) -> None:
            emb = spark.read.parquet(f"{self.data_dir}/embeddings.parquet")
            rec.op(
                "operators.ann_store.append",
                lambda: append_ann_store(
                    emb.where(F.col("vec_id") % 2 == b), ann, self.centroids
                ),
            )

        def ann_probe() -> None:
            rec.op(
                "operators.ann_store.probe",
                lambda: ann_ivf_topk_store_batch(
                    spark, ann, self.probes, k=self.k, n_probe=self.n_probe,
                    centroids=self.centroids,
                    probe_schema="query_id bigint, probe array<float>",
                ).collect(),
            )

        def text_probe() -> None:
            rec.op(
                "operators.search.probe",
                lambda: bm25_search(
                    load_text_index(spark, text),
                    spark.createDataFrame(self.text_queries, "query_id int, query_text string"),
                    k=self.k,
                ).collect(),
            )

        docs = spark.read.parquet(f"{self.data_dir}/documents.parquet")
        rec.op(
            "operators.search.append",
            lambda: append_text_index(docs.select("doc_id", "text"), text),
        )
        ann_append(0)
        ann_append(1)
        rec.op(
            "sinks.maintenance.compact",
            lambda: compact_store(spark, ann, partition_cols=["ivf_cell"]),
        )
        ann_probe()
        text_probe()
        return None

    def store_stats(self, out_dir: str) -> tuple[int, int, int]:
        """(files, bytes) of both stores' current generations, and the ANN
        store's bytes."""
        from jurimetria_etl_spark.sinks.maintenance import store_data_dir

        ann_files, ann_bytes = _tree_bytes(store_data_dir(os.path.join(out_dir, "ann")), (".parquet",))
        files, total = ann_files, ann_bytes
        for sub in self.TEXT_SUBDIRS:
            f, b = _tree_bytes(store_data_dir(os.path.join(out_dir, "text", sub)), (".parquet",))
            files, total = files + f, total + b
        return files, total, ann_bytes

    def check_pass(self, spark, rec: Recorder, out_dir: str, result) -> None:
        from jurimetria_etl_spark.sinks.maintenance import store_data_dir

        ann_rows = _parquet_rows(store_data_dir(os.path.join(out_dir, "ann")))
        rec.check("store.ann_rows", ann_rows == self.n_vec, f"{ann_rows} != {self.n_vec}")
        doc_rows = _parquet_rows(store_data_dir(os.path.join(out_dir, "text", "doc_lens")))
        rec.check("store.doc_rows", doc_rows == self.n_docs, f"{doc_rows} != {self.n_docs}")
        self.files, total, self.ann_bytes = self.store_stats(out_dir)
        self.bytes_per_row = total / (self.n_vec + self.n_docs)

    def check_final(self, spark, rec: Recorder, out_dir: str) -> None:
        """A full probe (n_probe == n_cells) must equal brute-force cosine
        top-k: same scores per rank, and every returned id scoring what it
        reports."""
        import numpy as np

        from jurimetria_etl_spark.operators.ann_store import ann_ivf_topk_store_batch

        got = ann_ivf_topk_store_batch(
            spark, os.path.join(out_dir, "ann"), self.probes, k=self.k,
            n_probe=self.n_cells, centroids=self.centroids,
            probe_schema="query_id bigint, probe array<float>",
        ).collect()
        unit = self.vecs / np.linalg.norm(self.vecs, axis=1, keepdims=True)
        pos = {int(v): i for i, v in enumerate(self.ids)}
        for qid, vec in self.probes:
            p = np.asarray(vec, dtype=np.float32).astype(np.float64)
            cos = unit @ (p / np.linalg.norm(p))
            best = np.sort(cos)[::-1][: self.k]
            mine = sorted((r for r in got if r["query_id"] == qid), key=lambda r: r["rank"])
            ok = len(mine) == self.k and all(
                abs(r["cos_sim"] - b) < 1e-5 and abs(cos[pos[int(r["vec_id"])]] - r["cos_sim"]) < 1e-5
                for r, b in zip(mine, best)
            )
            rec.check(f"store.full_probe_q{qid}", ok)

    def layer_extras(self, traced_ops, by_op, traced_results) -> dict[str, float]:
        # rows the ANN probes read ÷ rows in the store at each probe
        probes = [o for o in traced_ops if o.span == "operators.ann_store.probe"]
        read = sum(j.records_read for o in probes for j in by_op.get(o.seq, []))
        scanned = self.n_vec * len(probes)
        return {
            "store.files": self.files,
            "store.bytes_per_row": self.ann_bytes / self.n_vec,
            "ann_store.scan_frac": read / scanned if scanned else 0.0,
        }


# ── ingest_index ──────────────────────────────────────────────────────────


class IngestIndex(Workload):
    """The write path: the ETL pass, then the store pass, in one session.
    Together they are the only calls into ``sources``, ``pipeline``,
    ``sinks`` and the persisted stores; ``query_mix`` makes none."""

    name = "ingest_index"
    nominal_pass_s = 10.0
    aliases = {
        "ops_per_s": "probes_per_s",
        "op_p50_s": "probe_p50_s",
        "op_tail_s": "probe_tail_s",
    }

    def __init__(self):
        self.etl, self.store = EtlIngest(), StoreServe()
        self.parts = (self.etl, self.store)
        self.sf = self.store.sf
        self.spans = self.etl.spans + self.store.spans
        # the calls a user waits on; the pipeline's steps differ in kind
        # by 10x, and a median over both kinds would jump between them
        self.latency_spans = ("operators.ann_store.probe", "operators.search.probe")

    def prepare(self, data_dir: str, seed: int) -> None:
        for w in self.parts:
            w.prepare(data_dir, seed)
        self.input_rows = self.etl.input_rows + self.store.input_rows

    def bind(self, spark) -> None:
        self.etl.bind(spark)

    @staticmethod
    def _dirs(out_dir: str) -> tuple[str, str]:
        dirs = os.path.join(out_dir, "etl"), os.path.join(out_dir, "store")
        for d in dirs:
            os.makedirs(d, exist_ok=True)
        return dirs

    def run_pass(self, spark, rec: Recorder, out_dir: str):
        return [w.run_pass(spark, rec, d) for w, d in zip(self.parts, self._dirs(out_dir))]

    def check_pass(self, spark, rec: Recorder, out_dir: str, result) -> None:
        for w, d, r in zip(self.parts, self._dirs(out_dir), result):
            w.check_pass(spark, rec, d, r)
        written = self.etl.expected_rows + self.store.n_vec + self.store.n_docs
        self.bytes_per_row = (
            self.etl.bytes_per_row * self.etl.expected_rows
            + self.store.bytes_per_row * (self.store.n_vec + self.store.n_docs)
        ) / written

    def check_final(self, spark, rec: Recorder, out_dir: str) -> None:
        for w, d in zip(self.parts, self._dirs(out_dir)):
            w.check_final(spark, rec, d)

    def layer_extras(self, traced_ops, by_op, traced_results) -> dict[str, float]:
        extras = self.etl.layer_extras(traced_ops, by_op, [r[0] for r in traced_results])
        extras.update(self.store.layer_extras(traced_ops, by_op, None))
        return extras


# ── query_mix ──────────────────────────────────────────────────────────────


class QueryMix(Workload):
    """Relational corpus queries (bound by driver planning and job count)
    and the LLM-data curation queries (CPU- and shuffle-heavy text
    operators), each collected to the driver and hash-compared with its
    DuckDB oracle SQL on the same generated tables."""

    name = "query_mix"
    RELATIONAL = ("q32_percentile", "t21_product_profit")
    CURATION = {
        "x22_training_shards": "plans.curation.training_shards",
        "x43_curation_funnel": "plans.curation.funnel",
        "x05_minhash_near_dups": "operators.dedup",
        "x28_duplicate_spans": "operators.spans",
        "x09_text_profile": "operators.text",
    }
    queries = RELATIONAL + tuple(CURATION)
    spans = ("plans.corpus", "plans.tpch") + tuple(CURATION.values())
    latency_spans = spans
    nominal_pass_s = 7.0
    aliases = {
        "ops_per_s": "queries_per_s",
        "op_p50_s": "query_p50_s",
        "op_tail_s": "query_tail_s",
    }

    def __init__(self):
        # imported here, on the main thread: the import edits sys.path,
        # and prepare() runs on a thread beside the JVM launch
        self.hash_rows = _hash_rows()

    def prepare(self, data_dir: str, seed: int) -> None:
        import duckdb

        from jurimetria_etl_spark.plans.corpus import full_registry
        from jurimetria_etl_spark.plans.extensions import BENCH_ONLY

        registry = {**full_registry(), **BENCH_ONLY}
        self.data_dir = data_dir
        self.fns = {q: registry[q].spark for q in self.queries}
        con = duckdb.connect()
        try:
            for t in TABLES:
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')"
                )
            self.expected = {}
            for q in self.queries:
                rel = con.sql(registry[q].oracle)
                self.expected[q] = self.hash_rows(rel.columns, rel.fetchall())
            self.input_rows = sum(
                con.execute(f"SELECT count(*) FROM {t}").fetchone()[0] for t in TABLES
            )
        finally:
            con.close()
        _, pq_bytes = _tree_bytes(data_dir, (".parquet",))
        self.bytes_per_row = pq_bytes / self.input_rows

    def span_of(self, name: str) -> str:
        """The curation layer, or the plans module, e.g. ``plans.tpch``."""
        if name in self.CURATION:
            return self.CURATION[name]
        return self.fns[name].__module__.replace("jurimetria_etl_spark.", "")

    def run_pass(self, spark, rec: Recorder, out_dir: str):
        results = {}
        for q in self.queries:

            def call(fn=self.fns[q]):
                df = fn(spark, self.data_dir)
                return df.columns, [tuple(r) for r in df.collect()]

            results[q] = rec.op(self.span_of(q), call)
        return results

    def check_pass(self, spark, rec: Recorder, out_dir: str, result) -> None:
        for q, out in result.items():
            got = self.hash_rows(*out) if out is not None else None
            rec.check(q, got == self.expected[q], f"hash {got} != {self.expected[q]}")


WORKLOADS = {w.name: w for w in (IngestIndex, QueryMix)}
