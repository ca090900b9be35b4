"""The two workloads, each a closed loop with one client, and the
registry pass that the traced ``enem_search`` run adds.

A workload builds its inputs from the run's seed, then runs operations
one after another. ``op`` returns the units of work the operation did
and a check that the runner calls outside the timed region; a check
that returns False counts the operation as failed.

- ``enem_ingest``: ``api.process_folder`` over one folder of placeholder
  exam PDFs, plus collecting the stats report it returns.
- ``enem_search``: kNN queries against a collection that set-up writes
  through the same ingest path: 3 in 4 are ``api.vector_search`` with a
  perturbed stored vector, 1 in 4 are ``plans.load.search_text`` with a
  subject filter.

``RegistryPass`` is not a workload of its own: a Spark session start and
its cold first pass cost more than the run budget of a third workload
allows. The traced ``enem_search`` run ends with one pass over a fixed,
module-covering subset of the headline registry keys, each built and
then forced with ``count()``, and reports its per-module layers.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time
from collections import Counter

import numpy as np
from pyspark.sql import functions as F

from pdf_to_vectordb_etl_spark import api, sinks
from pdf_to_vectordb_etl_spark.operators import aggregates, embedding, joins, topk
from pdf_to_vectordb_etl_spark.plans import etl, load
from pdf_to_vectordb_etl_spark.sources import pdf as pdfsource
from pdf_to_vectordb_etl_spark.sources.synthetic import (
    STEM_WORDS,
    expected_question_counts,
    synthetic_pdf_decoder,
)

from .trace import UNTRACED, CountingDecoder

HERE = os.path.dirname(os.path.abspath(__file__))
DIM = 64
K = 10
SUBJECTS = ("eng", "spani", "lang", "huma", "natu", "math")
INGEST_EXAMS = 32  # 64 files: a PV test and its GB answer key per exam
SEARCH_EXAMS = 16  # 32 files, about 1.2k stored points after the id dedup


def _median(values) -> float:
    return float(statistics.median(values)) if values else 0.0


def exam_folder(folder: str, rng, n_exams: int) -> list[tuple[int, str, int]]:
    """Write ``n_exams`` seeded (year, day, colour) exams as placeholder
    ``{year}_{PV|GB}_impresso_{day}_CD{colour}.pdf`` files. The synthetic
    decoder reads only the name; the bytes are a stand-in."""
    universe = [(y, d, c) for y in range(2000, 2100) for d in ("D1", "D2") for c in range(1, 10)]
    exams = sorted(rng.sample(universe, n_exams))
    shutil.rmtree(folder, ignore_errors=True)
    os.makedirs(folder)
    for y, d, c in exams:
        for kind in ("PV", "GB"):
            name = f"{y}_{kind}_impresso_{d}_CD{c}.pdf"
            with open(os.path.join(folder, name), "wb") as fh:
                fh.write(b"%PDF-1.4 placeholder " + name.encode())
    return exams


def expected_report(exams) -> dict[tuple[int, str], int]:
    """(year, subject) -> question count: the synthetic corpus's ground
    truth for each (year, day), times the number of colours of it."""
    out: Counter = Counter()
    for (y, d), colours in Counter((y, d) for y, d, _ in exams).items():
        for key, n in expected_question_counts(years=(y,), days=(d,)).items():
            out[key] += n * colours
    return dict(out)


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(root, f)) for root, _, files in os.walk(path) for f in files
    )


class EnemIngest:
    name = "enem_ingest"
    unit = "files"
    ops_per_round = 2

    def __init__(self, spark, work: str, seed: int):
        self.spark, self.work, self.seed = spark, work, seed
        self.folder = os.path.join(work, "exams")
        self.decoder = synthetic_pdf_decoder
        self.collection_bytes = 0

    def prepare(self) -> None:
        self.exams = exam_folder(self.folder, random.Random(self.seed), INGEST_EXAMS)
        self.n_files = 2 * len(self.exams)
        self.expected = expected_report(self.exams)

    def warm(self) -> None:
        # the first call of a session over a folder this size is cold
        if not self.op(-1, UNTRACED)[1]():
            raise RuntimeError("warm-up ingest produced a wrong report")

    def op(self, i: int, tracer):
        """One ``process_folder`` call plus the report collect."""
        coll = os.path.join(self.work, f"collection-{i}")
        with tracer.span("api.process_folder", files=self.n_files):
            rows = api.process_folder(
                self.spark, self.folder, coll, dim=DIM, decoder=self.decoder
            ).collect()

        def check() -> bool:
            report = {(r["year"], r["subject"]): r["n"] for r in rows}
            stored = self.spark.read.parquet(coll).count()
            self.collection_bytes = dir_bytes(coll)
            shutil.rmtree(coll)
            return report == self.expected and stored == sum(self.expected.values())

        return self.n_files, check

    def summary(self, records) -> list[str]:
        busy = sum(w for w, _, _ in records)
        return [f"ingest_files_per_s {sum(u for _, u, _ in records) / busy:.3f} files/s"
                f" ({self.n_files} files per call, {len(records)} calls)"]

    def start_tracing(self, tracer) -> None:
        acc = self.spark.sparkContext.accumulator(0)
        tracer.watch("decode_calls", acc)
        self.decoder = CountingDecoder(acc)

    def layers(self, tracer) -> list[bool]:
        """Replay ``api.process_folder``'s body one layer at a time, each
        layer's output forced inside its own span. Nothing to check."""
        spark, coll = self.spark, os.path.join(self.work, "collection-layers")
        with tracer.span("ingest.layers"):
            files = pdfsource.with_filename_tokens(pdfsource.scan_pdf_folder(spark, self.folder))
            with tracer.span("operators.aggregates.folder_parity_check"):
                aggregates.folder_parity_check(files).first()
            with tracer.span("operators.joins.pair_tests_with_keys"):
                joins.pair_tests_with_keys(files)[1].limit(1).collect()
            with tracer.span("sources.pdf.pages_from_pdfs"):
                pages = pdfsource.pages_from_pdfs(files, decoder=self.decoder)
                pages.count()
            with tracer.span("plans.etl.extract_questions.build"):
                questions = etl.extract_questions(pages)
            with tracer.span("plans.etl.extract_questions"):
                questions.count()
            with tracer.span("plans.load.load_questions"):
                load.load_questions(questions, coll, dim=DIM)
            with tracer.span("plans.etl.extraction_report"):
                etl.extraction_report(questions).collect()
        shutil.rmtree(coll)
        return []

    def per_layer(self, tracer) -> dict:
        calls = tracer.named("api.process_folder")

        def one(name: str, key: str = "wall"):
            spans = tracer.named(name)
            if key == "wall":
                return _median([s["end_s"] - s["start_s"] for s in spans])
            return _median([s[key] for s in spans])

        return {
            "sources.pdf.decode_calls_per_file": sum(s["decode_calls"] for s in calls)
            / sum(s["files"] for s in calls),
            "sources.pdf.pages_s": one("sources.pdf.pages_from_pdfs"),
            "operators.aggregates.parity_s": one("operators.aggregates.folder_parity_check"),
            "operators.joins.pairing_s": one("operators.joins.pair_tests_with_keys"),
            "plans.etl.extract_build_s": one("plans.etl.extract_questions.build"),
            "plans.etl.extract_s": one("plans.etl.extract_questions"),
            "plans.etl.extract_jobs": one("plans.etl.extract_questions", "jobs"),
            "plans.load.load_s": one("plans.load.load_questions"),
            "plans.load.load_jobs": one("plans.load.load_questions", "jobs"),
            "plans.etl.report_s": one("plans.etl.extraction_report"),
            "plans.etl.report_jobs": one("plans.etl.extraction_report", "jobs"),
            "api.process_folder.jobs": _median([s["jobs"] for s in calls]),
            "sinks.collection_bytes": self.collection_bytes,
        }


class EnemSearch:
    name = "enem_search"
    unit = "queries"
    ops_per_round = 16  # four times three vector queries and one text query

    def __init__(self, spark, work: str, seed: int):
        self.spark, self.work, self.seed = spark, work, seed
        self.folder = os.path.join(work, "exams")
        self.coll = os.path.join(work, "collection")
        self.registry = None

    def prepare(self) -> None:
        self.exams = exam_folder(self.folder, random.Random(self.seed), SEARCH_EXAMS)

    def warm(self) -> None:
        shutil.rmtree(self.coll, ignore_errors=True)
        api.process_folder(self.spark, self.folder, self.coll, dim=DIM, decoder=synthetic_pdf_decoder).collect()
        self.collection_bytes = dir_bytes(self.coll)
        # the numpy oracle: the collection as the read path sees it (one
        # point per id), collected once
        pts = (
            self.spark.read.parquet(self.coll)
            .dropDuplicates(["id"])
            .select("id", "vector", F.col("payload.metadata.materia").alias("materia"))
            .toPandas()
        )
        self.ids = pts["id"].to_numpy()
        self.subject = pts["materia"].to_numpy()
        mat = np.stack(pts["vector"].to_numpy()).astype(np.float64)
        self.unit_rows = mat / np.linalg.norm(mat, axis=1, keepdims=True)
        self.probes = self._probes(mat, 400)
        # the first queries of a session plan slowly, and still get faster
        # for about a dozen more
        for j in range(12):
            units, check = self.op(len(self.probes) - 1 - j, UNTRACED)
            if not check():
                raise RuntimeError("warm-up query returned a wrong top-k")

    def _probes(self, mat, n: int) -> list[dict]:
        rng = np.random.default_rng(self.seed)
        probes = []
        for _ in range(n):
            if len(probes) % 4 != 3:
                v = mat[rng.integers(len(mat))]
                noise = rng.normal(0.0, 0.1 * np.linalg.norm(v) / np.sqrt(DIM), DIM)
                probes.append({"kind": "vector", "vector": (v + noise).tolist()})
            else:
                text = (
                    f"{STEM_WORDS[rng.integers(len(STEM_WORDS))]} numero "
                    f"{rng.integers(1, 181)} do ano {rng.integers(2000, 2100)}."
                )
                probes.append({"kind": "text", "text": text, "subject": str(rng.choice(SUBJECTS))})
        texts = sorted({p["text"] for p in probes if p["kind"] == "text"})
        vecs = dict(
            self.spark.createDataFrame([(t,) for t in texts], "text string")
            .select("text", embedding.deterministic_embedding(F.col("text"), dim=DIM).alias("v"))
            .collect()
        )
        for p in probes:
            if p["kind"] == "text":
                p["vector"] = list(vecs[p["text"]])
        return probes

    def _expected(self, probe) -> tuple[np.ndarray, np.ndarray]:
        q = np.asarray(probe["vector"], dtype=np.float64)
        rows = self.unit_rows
        ids = self.ids
        if probe["kind"] == "text":
            mask = self.subject == probe["subject"]
            rows, ids = rows[mask], ids[mask]
        return ids, rows @ (q / np.linalg.norm(q))

    def op(self, i: int, tracer):
        probe = self.probes[i % len(self.probes)]
        if probe["kind"] == "vector":
            with tracer.span("api.vector_search") as sp:
                t0 = time.perf_counter()
                df = api.vector_search(self.spark, self.coll, probe["vector"], k=K, dim=DIM)
                t1 = time.perf_counter()
                rows = df.collect()
                sp["build_ms"] = (t1 - t0) * 1e3
                sp["action_ms"] = (time.perf_counter() - t1) * 1e3
            if tracer.enabled:  # the two builds inside vector_search, on their own
                with tracer.span("sinks.read_embeddings_table"):
                    corpus = sinks.read_embeddings_table(self.spark, self.coll)
                with tracer.span("operators.topk.topk_cosine"):
                    topk.topk_cosine(corpus, probe["vector"], k=K, vec_col="vector", id_col="id")
        else:
            with tracer.span("plans.load.search_text"):
                rows = load.search_text(
                    self.spark, self.coll, probe["text"], k=K, dim=DIM, subject=probe["subject"]
                ).collect()

        def check() -> bool:
            ids, sims = self._expected(probe)
            want = min(K, len(ids))
            got = [r["id"] for r in rows]
            if len(got) != want or len(set(got)) != want:
                return False
            kth = np.sort(sims)[-want]
            by_id = dict(zip(ids.tolist(), sims.tolist()))
            return all(
                g in by_id and by_id[g] >= kth - 1e-9 and abs(by_id[g] - r["cosine_sim"]) < 1e-6
                for g, r in zip(got, rows)
            )

        return 1, check

    def summary(self, records) -> list[str]:
        walls = [w for w, _, _ in records]
        lines = [
            f"search_p50_ms {1e3 * statistics.median(walls):.3f} ms over {len(walls)} queries",
            f"search_qps {len(walls) / sum(walls):.4f} 1/s",
        ]
        if self.registry:
            lines.append(self.registry.summary())
        return lines

    def start_tracing(self, tracer) -> None:
        pass

    def layers(self, tracer) -> list[bool]:
        """One traced pass over the registry keys, after the queries."""
        self.registry = RegistryPass(self.spark, self.work, self.seed)
        self.registry.prepare()
        return [self.registry.run(tracer)]

    def per_layer(self, tracer) -> dict:
        def med(name: str, key: str) -> float:
            spans = tracer.named(name)
            if key == "wall_ms":
                return _median([(s["end_s"] - s["start_s"]) * 1e3 for s in spans])
            return _median([s[key] for s in spans])

        return {
            "sinks.collection_bytes": self.collection_bytes,
            "sinks.read_embeddings_table.build_ms": med("sinks.read_embeddings_table", "wall_ms"),
            "operators.topk.topk_cosine.build_ms": med("operators.topk.topk_cosine", "wall_ms"),
            "api.vector_search.action_ms": med("api.vector_search", "action_ms"),
            "api.vector_search.jobs_per_query": med("api.vector_search", "jobs"),
            "plans.load.search_text.jobs_per_query": med("plans.load.search_text", "jobs"),
            **self.registry.per_layer(tracer),
        }


class RegistryPass:
    """A fixed, module-covering subset of the headline registry keys,
    each built with ``__spark_entry__.queries()[key]`` and forced with
    ``count()``, one span per key."""

    def __init__(self, spark, work: str, seed: int):
        import __spark_entry__

        self.spark = spark
        self.fixture = os.path.join(work, "fixture")
        with open(os.path.join(HERE, "registry_keys.json")) as fh:
            spec = json.load(fh)
        self.fixture_seed = spec["fixture_seed"]
        self.keys = spec["keys"]
        self.order = sorted(self.keys)
        random.Random(seed).shuffle(self.order)
        self.queries = __spark_entry__.queries()

    def prepare(self) -> None:
        # a fixed fixture (not the run seed): the committed row counts
        # belong to it. The seed only orders the keys.
        script = os.path.join(os.path.dirname(HERE), "tools", "make_random_fixture.py")
        subprocess.run(
            [sys.executable, script, str(self.fixture_seed), self.fixture],
            check=True,
            stdout=subprocess.DEVNULL,
        )

    def run(self, tracer) -> bool:
        """One pass over the keys; whether every row count is the
        committed one, checked after the pass."""
        counts = {}
        t0 = time.perf_counter()
        for key in self.order:
            with tracer.span(f"registry.{key}", module=self.keys[key]["module"]) as sp:
                t1 = time.perf_counter()
                df = self.queries[key](self.spark, self.fixture)
                sp["build_s"] = time.perf_counter() - t1
                counts[key] = df.count()
        self.wall_s = time.perf_counter() - t0
        wrong = {k: n for k, n in counts.items() if n != self.keys[k]["rows"]}
        if wrong:
            print(f"row counts differ from registry_keys.json: {wrong}", file=sys.stderr)
        return not wrong

    def summary(self) -> str:
        return f"registry_wall_s {self.wall_s:.3f} s for one traced pass over {len(self.order)} keys"

    def per_layer(self, tracer) -> dict:
        spans = [s for s in tracer.spans if s["name"].startswith("registry.")]
        out = {}
        for module in sorted({v["module"] for v in self.keys.values()}):
            mine = [s for s in spans if s["module"] == module]
            out[f"registry.{module}.wall_s"] = sum(s["end_s"] - s["start_s"] for s in mine)
            out[f"registry.{module}.build_s"] = sum(s["build_s"] for s in mine)
            out[f"registry.{module}.jobs"] = sum(s["jobs"] for s in mine)
        wall = sum(s["end_s"] - s["start_s"] for s in spans)
        out["registry.build_share"] = sum(s["build_s"] for s in spans) / wall
        return out


WORKLOADS = {w.name: w for w in (EnemIngest, EnemSearch)}
