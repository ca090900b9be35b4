"""Reference-shaped API facade tests: the switch-over surface
(extract_pdf / process_folder / file_to_vector_table / vector_search)
driven through real file scans with the synthetic decoder."""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

from pdf_to_vectordb_etl_spark import api, sinks
from pdf_to_vectordb_etl_spark.operators import aggregates
from pdf_to_vectordb_etl_spark.plans import etl, load
from pdf_to_vectordb_etl_spark.sources import synthetic


def counting_decoder(calls):
    """``synthetic_pdf_decoder`` that adds 1 to the Spark accumulator
    ``calls`` per decoded file. A closure, so executors receive it by
    value: this test module is not importable on the workers."""

    def decode(path: str, content: bytes) -> list[dict]:
        calls.add(1)
        return synthetic.synthetic_pdf_decoder(path, content)

    return decode


def _touch_corpus(tmp_path, names):
    d = tmp_path / "corpus"
    d.mkdir(parents=True, exist_ok=True)
    for n in names:
        (d / n).write_bytes(b"placeholder pdf bytes for " + n.encode())
    return str(d)


PAIR_2022_D1 = ["2022_PV_impresso_D1_CD1.pdf", "2022_GB_impresso_D1_CD1.pdf"]
PAIR_2022_D2 = ["2022_PV_impresso_D2_CD1.pdf", "2022_GB_impresso_D2_CD1.pdf"]


def test_extract_pdf_matches_synthetic_pipeline(spark, tmp_path):
    folder = _touch_corpus(tmp_path, PAIR_2022_D1)
    got = api.extract_pdf(
        spark,
        os.path.join(folder, PAIR_2022_D1[0]),
        os.path.join(folder, PAIR_2022_D1[1]),
        decoder=synthetic.synthetic_pdf_decoder,
    )
    want = etl.extract_questions(
        synthetic.corpus_df(spark, years=(2022,), days=("D1",))
    )
    g = {(r["ID"], r["subject"], r["correct_answer"]) for r in got.collect()}
    w = {(r["ID"], r["subject"], r["correct_answer"]) for r in want.collect()}
    assert g == w and len(g) > 50


def test_extract_pdf_txt_and_dict_modes(spark, tmp_path):
    folder = _touch_corpus(tmp_path, PAIR_2022_D1)
    test_p = os.path.join(folder, PAIR_2022_D1[0])
    key_p = os.path.join(folder, PAIR_2022_D1[1])

    out = str(tmp_path / "txt_out")
    assert (
        api.extract_pdf(
            spark, test_p, key_p, output_type="txt", extracted_data_path=out,
            decoder=synthetic.synthetic_pdf_decoder,
        )
        is None
    )
    trees = glob.glob(os.path.join(out, "year=2022", "subject=*"))
    assert len(trees) >= 3

    d = api.extract_pdf(
        spark, test_p, key_p, output_type="dict",
        decoder=synthetic.synthetic_pdf_decoder,
    )
    assert d["test_year"] == "2022"
    assert {"eng", "lang", "spani", "huma"} <= set(d)
    assert "(RESPOSTA CORRETA)" in d["lang"]

    with pytest.raises(ValueError):
        api.extract_pdf(spark, test_p, key_p, output_type="nope")


def test_process_folder_end_to_end_and_error_paths(spark, tmp_path, monkeypatch):
    folder = _touch_corpus(tmp_path, PAIR_2022_D1 + PAIR_2022_D2)
    table = str(tmp_path / "collection")
    sc = spark.sparkContext
    calls = sc.accumulator(0)
    decoder = counting_decoder(calls)
    persisted = sc._jsc.getPersistentRDDs().size()
    report = api.process_folder(spark, folder, table, dim=16, decoder=decoder)
    # one decode per file, and both materializations released on return
    assert calls.value == 4
    assert sc._jsc.getPersistentRDDs().size() == persisted
    want = aggregates.question_counts(
        etl.extract_questions(
            synthetic.corpus_df(spark, years=(2022,), days=("D1", "D2"))
        )
    )
    got = {(r["year"], r["subject"]): r["n"] for r in report.collect()}
    exp = {(r["year"], r["subject"]): r["n"] for r in want.collect()}
    assert got == exp
    stored = sinks.read_embeddings_table(spark, table)
    assert stored.count() == sum(got.values())

    # a failing sink still releases both materializations
    def boom(*args, **kwargs):
        raise RuntimeError("sink down")

    with monkeypatch.context() as m:
        m.setattr(load, "load_questions", boom)
        with pytest.raises(RuntimeError, match="sink down"):
            api.process_folder(
                spark, folder, str(tmp_path / "c1"), dim=16, decoder=decoder
            )
    assert sc._jsc.getPersistentRDDs().size() == persisted

    # orphan test (PV without GB) -> all-or-nothing raises, before any decode
    calls_before = calls.value
    orphan_dir = _touch_corpus(
        tmp_path / "o", PAIR_2022_D1 + ["2022_PV_impresso_D2_CD1.pdf",
                                        "2023_GB_impresso_D2_CD2.pdf"]
    )
    with pytest.raises(ValueError, match="answer key"):
        api.process_folder(
            spark, orphan_dir, str(tmp_path / "c2"), dim=16, decoder=decoder
        )

    # odd file count -> parity raises, before any decode
    odd_dir = _touch_corpus(tmp_path / "p", PAIR_2022_D1 + ["2022_PV_impresso_D2_CD1.pdf"])
    with pytest.raises(ValueError, match="even count"):
        api.process_folder(
            spark, odd_dir, str(tmp_path / "c3"), dim=16, decoder=decoder
        )
    assert calls.value == calls_before


def test_file_to_vector_table_and_search(spark, tmp_path):
    # build a reference-named TXT from the synthetic pipeline's concat
    qs = etl.extract_questions(synthetic.corpus_df(spark, years=(2022,), days=("D1",)))
    content = aggregates.subject_concat(etl.questions_with_txt(qs))
    lang_txt = content.filter(F.col("subject") == "lang").first()["content"]
    txt_dir = tmp_path / "txts"
    txt_dir.mkdir()
    txt_path = str(txt_dir / "2022_lang_questions.txt")
    with open(txt_path, "w") as f:
        f.write(lang_txt)

    table = str(tmp_path / "coll")
    counts = api.file_to_vector_table(spark, txt_path, table, dim=16)
    n_lang = qs.filter(F.col("subject") == "lang").count()
    row = counts.first()
    assert (row["year"], row["subject"], row["n_chunks"]) == (2022, "lang", n_lang)

    stored = sinks.read_embeddings_table(spark, table)
    assert stored.count() == n_lang

    # searching with a stored vector returns that point at sim ~1,
    # carrying the stored payload like the reference's search hits
    probe = stored.orderBy("id").first()
    hit = api.vector_search(spark, table, list(probe["vector"]), k=1, dim=16).first()
    assert hit["id"] == probe["id"] and abs(hit["cosine_sim"] - 1.0) < 1e-6
    assert hit["page_content"] == probe["payload"]["page_content"]
    assert hit["materia"] == "lang" and hit["ano"] == 2022

    with pytest.raises(ValueError, match="dims"):
        api.vector_search(spark, table, [0.0] * 7, k=1, dim=16)
