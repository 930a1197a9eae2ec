"""Seeded clinical release generator and its check."""

import json
import os

import duckdb
import pytest

import clinical
from cqdg_etl_spark.queries import REGISTRY


def _golden() -> dict:
    rows = duckdb.connect().execute(REGISTRY["pipe_clinical_e2e"].oracle).fetchall()
    return {(index, key): [label, n] for index, key, label, n in rows}


def _project(expected: dict) -> dict:
    return {(index, key): row[:2] for index, docs in expected.items()
            for key, row in docs.items()}


def _write_indexes(index_dir: str, expected: dict) -> None:
    """Write documents shaped like the release's JSON sink from ``expected``."""
    for index, docs in expected.items():
        for key, (label, nested, aux) in docs.items():
            study = key if index == "studies" else "ST01"
            part = os.path.join(index_dir, index, f"study_id={study}", "v=1")
            os.makedirs(part, exist_ok=True)
            if index == "studies":
                doc = {"short_name": label, "donors": [{}] * nested, "files": [{}] * aux}
            elif index == "donors":
                doc = {"submitter_donor_id": key, "gender": label,
                       "files": [{}] * nested or None, "diagnoses": [{}] * aux or None}
            else:
                doc = {"internal_file_id": key, "file_variant_class": label,
                       "biospecimen": [{}] * nested, "donors": [{}] * aux}
            with open(os.path.join(part, "part-0.json"), "a") as fh:
                fh.write(json.dumps({k: v for k, v in doc.items() if v is not None}) + "\n")


@pytest.mark.parametrize("seed", [0, 7])
def test_one_copy_is_the_golden_template(tmp_path, seed):
    expected = clinical.generate_release(str(tmp_path), copies=1, seed=seed)
    assert _project(expected) == _golden()


def test_seed_varies_fan_out_and_repeats_exactly(tmp_path):
    a = clinical.generate_release(str(tmp_path / "a"), copies=50, seed=1)
    b = clinical.generate_release(str(tmp_path / "b"), copies=50, seed=1)
    c = clinical.generate_release(str(tmp_path / "c"), copies=50, seed=2)
    assert a == b
    assert a != c
    for exp in (a, c):
        assert len(exp["studies"]) == 2 and len(exp["donors"]) == 150
        assert sum(n for _, n, _ in exp["studies"].values()) == 150
        assert len(exp["files"]) == sum(n for _, _, n in exp["studies"].values())
    with open(tmp_path / "a" / "raw" / "file.tsv") as fa, \
            open(tmp_path / "b" / "raw" / "file.tsv") as fb:
        assert fa.read() == fb.read()


def test_check_accepts_matching_indexes_and_reports_drift(tmp_path):
    expected = clinical.generate_release(str(tmp_path / "in"), copies=5, seed=3)
    good = tmp_path / "good"
    _write_indexes(str(good), expected)
    assert clinical.check_release(str(good), expected) == []

    drifted = json.loads(json.dumps(expected))
    donor = next(iter(drifted["donors"]))
    drifted["donors"][donor][1] += 1
    del drifted["files"][next(iter(drifted["files"]))]
    bad = tmp_path / "bad"
    _write_indexes(str(bad), drifted)
    problems = clinical.check_release(str(bad), expected)
    assert any(p.startswith(f"donors/{donor}:") for p in problems)
    assert any(p.startswith("files:") for p in problems)


def test_release_of_one_copy_passes_the_check(tmp_path):
    """The real pre-process and process commands on the template and one
    seeded copy."""
    from cqdg_etl_spark.pipeline.clients import DeterministicIdResolver, FixtureDictionary
    from cqdg_etl_spark.pipeline.etl import ProcessETL
    from cqdg_etl_spark.pipeline.preprocess import PreProcessETL
    from cqdg_etl_spark.session import get_spark

    root = str(tmp_path)
    expected = clinical.generate_release(root, copies=2, seed=5)
    spark = get_spark()
    PreProcessETL(spark, FixtureDictionary(f"{root}/dictionary.json"),
                  DeterministicIdResolver(), f"{root}/raw", f"{root}/with-ids").run()
    ProcessETL(spark, f"{root}/with-ids", f"{root}/ontology", f"{root}/indexes").run()
    assert clinical.check_release(f"{root}/indexes", expected) == []
