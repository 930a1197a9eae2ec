"""Golden rows and plan shape for the study and donor ``summary`` columns.

The expected values were captured from the reference-shaped summary code
(full-outer-join chains over study × donor × value cross products) and
pin the semantics any rewrite of ``pipeline/indexes/summary.py`` keeps.
Arrays are compared with their elements sorted: their order is not part
of the contract.

The fixture extends the 3-donor clinical template with the edge cases:

- PT02 (ST01) has no files: every value is listed with ``files: 0``;
- ST03 has no files at all: neither ST03 nor its donor PT04 gets a
  summary, although PT04 has clinical rows;
- PT05 (ST01) has a diagnosis without a MONDO code, so its ``mondo`` is
  null and ``diagnosis`` is ``available: false``;
- PT03 (ST02) has observed phenotypes only; its null
  ``not_observed_phenotype_tagged`` makes ``phenotype`` unavailable,
  although ST02 counts PT03 among its phenotype donors;
- PT06 (ST01) has a file but no clinical row, so no key is available
  and PT06 gets no summary;
- ``proteomics`` occurs only in ST01, so ST02 lists it with
  ``donors: 0, files: 0``;
- ``f1.gvcf`` belongs to both PT01 and PT05: the study counts it once.

The plan-shape guard keeps the study × donor × value cross product from
coming back: the index plans hold no full outer join and no nested-loop
or cartesian join whose build side can have more than one row.
"""

from __future__ import annotations

import pytest

from cqdg_etl_spark.pipeline.clients import (
    DeterministicIdResolver,
    FixtureDictionary,
    RecordingKeycloak,
)
from cqdg_etl_spark.pipeline.etl import ProcessETL
from cqdg_etl_spark.pipeline.fixtures import (
    write_clinical_fixtures,
    write_dictionary,
    write_ontology_fixtures,
)
from cqdg_etl_spark.pipeline.preprocess import PreProcessETL


def _append(path: str, rows: list[dict[str, str]]) -> None:
    """Append rows to a fixture TSV; columns not given are empty."""
    with open(path) as fh:
        header = fh.readline().rstrip("\n").split("\t")
    with open(path, "a") as fh:
        for row in rows:
            fh.write("\t".join(row.get(c, "") for c in header) + "\n")


def write_summary_fixtures(d: str) -> None:
    write_clinical_fixtures(d)
    _append(
        f"{d}/study.tsv",
        [{"study_id": "ST03", "name": "Empty Cohort", "short_name": "EC",
          "access_limitations": "DUO:0000005",
          "access_requirements": "DUO:0000026"}],
    )
    _append(
        f"{d}/donor.tsv",
        [
            {"study_id": "ST03", "submitter_donor_id": "PT04", "gender": "Male"},
            {"study_id": "ST01", "submitter_donor_id": "PT05", "gender": "Female"},
            {"study_id": "ST01", "submitter_donor_id": "PT06", "gender": "Male"},
        ],
    )
    _append(
        f"{d}/exposure.tsv",
        [
            {"study_id": "ST03", "submitter_donor_id": "PT04",
             "smoking_status": "never"},
            {"study_id": "ST01", "submitter_donor_id": "PT05",
             "smoking_status": "current"},
        ],
    )
    _append(
        f"{d}/diagnosis.tsv",
        [{"study_id": "ST01", "submitter_donor_id": "PT05",
          "submitter_diagnosis_id": "DI05", "diagnosis_source_text": "unknown",
          "age_at_diagnosis": "30"}],
    )
    _append(
        f"{d}/file.tsv",
        [
            {"submitter_biospecimen_id": "BS05", "submitter_donor_id": "PT05",
             "study_id": "ST01", "file_name": "f1.gvcf",
             "data_category": "genomics", "experimental_strategy": "WGS",
             "file_format": "gvcf"},
            {"submitter_biospecimen_id": "BS06", "submitter_donor_id": "PT06",
             "study_id": "ST01", "file_name": "f6.raw",
             "data_category": "proteomics",
             "experimental_strategy": "mass spectrometry",
             "file_format": "raw"},
        ],
    )


def canonical(value):
    """Rows and structs to dicts, every array sorted."""
    if hasattr(value, "asDict"):
        value = value.asDict()
    if isinstance(value, dict):
        return {k: canonical(v) for k, v in value.items()}
    if isinstance(value, list):
        return sorted((canonical(v) for v in value), key=repr)
    return value


@pytest.fixture(scope="module")
def summary_indexes(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("summary")
    write_summary_fixtures(str(root / "raw"))
    write_ontology_fixtures(str(root / "ontology"))
    write_dictionary(str(root / "dictionary.json"))
    PreProcessETL(
        spark,
        FixtureDictionary(str(root / "dictionary.json")),
        DeterministicIdResolver(),
        str(root / "raw"),
        str(root / "with-ids"),
    ).run()
    etl = ProcessETL(
        spark,
        str(root / "with-ids"),
        str(root / "ontology"),
        str(root / "indexes"),
        keycloak=RecordingKeycloak(enabled=False),
    )
    studies, donors, _ = etl.transform(*etl.extract())
    return studies, donors


def _summaries(df, key: str) -> dict:
    return {r[key]: canonical(r.summary) for r in df.select(key, "summary").collect()}


def _clinical(*available: str) -> list[dict]:
    keys = ["diagnosis", "exposure", "family", "family_history", "follow_up",
            "phenotype", "treatment"]
    return [{"key": k, "available": k in available} for k in keys]


EXPECTED_STUDY_SUMMARIES = {
    "ST01": {
        "data_category": [
            {"key": "genomics", "donors": 2, "files": 2},
            {"key": "proteomics", "donors": 1, "files": 1},
        ],
        "experimental_strategy": [
            {"key": "WGS", "donors": 2, "files": 2},
            {"key": "WXS", "donors": 0, "files": 0},
            {"key": "mass spectrometry", "donors": 1, "files": 1},
        ],
        "clinical_data_available": [
            {"key": "diagnosis", "donors": 2},
            {"key": "exposure", "donors": 2},
            {"key": "family", "donors": 2},
            {"key": "family_history", "donors": 1},
            {"key": "follow_up", "donors": 1},
            {"key": "phenotype", "donors": 1},
            {"key": "treatment", "donors": 1},
        ],
    },
    "ST02": {
        "data_category": [
            {"key": "genomics", "donors": 1, "files": 1},
            {"key": "proteomics", "donors": 0, "files": 0},
        ],
        "experimental_strategy": [
            {"key": "WGS", "donors": 0, "files": 0},
            {"key": "WXS", "donors": 1, "files": 1},
            {"key": "mass spectrometry", "donors": 0, "files": 0},
        ],
        "clinical_data_available": [
            {"key": "diagnosis", "donors": 1},
            {"key": "exposure", "donors": 1},
            {"key": "phenotype", "donors": 1},
        ],
    },
    "ST03": None,
}


def _donor_summary(files: dict, strategies: dict, *available: str) -> dict:
    return {
        "data_category": [{"key": k, "files": n} for k, n in files.items()],
        "experimental_strategy": [
            {"key": k, "files": n} for k, n in strategies.items()
        ],
        "clinical_data_available": _clinical(*available),
        "clinical_data_available_only": [{"key": k} for k in available],
    }


EXPECTED_DONOR_SUMMARIES = {
    "PT01": _donor_summary(
        {"genomics": 2, "proteomics": 0},
        {"WGS": 2, "WXS": 0, "mass spectrometry": 0},
        "diagnosis", "exposure", "family", "family_history", "follow_up",
        "phenotype", "treatment",
    ),
    "PT02": _donor_summary(
        {"genomics": 0, "proteomics": 0},
        {"WGS": 0, "WXS": 0, "mass spectrometry": 0},
        "family",
    ),
    "PT03": _donor_summary(
        {"genomics": 1, "proteomics": 0},
        {"WGS": 0, "WXS": 1, "mass spectrometry": 0},
        "diagnosis", "exposure",
    ),
    "PT04": None,
    "PT05": _donor_summary(
        {"genomics": 1, "proteomics": 0},
        {"WGS": 1, "WXS": 0, "mass spectrometry": 0},
        "exposure",
    ),
    "PT06": None,
}


def test_study_summary_golden(summary_indexes):
    studies, _ = summary_indexes
    assert _summaries(studies, "study_id") == canonical(EXPECTED_STUDY_SUMMARIES)


def test_donor_summary_golden(summary_indexes):
    _, donors = summary_indexes
    assert _summaries(donors, "submitter_donor_id") == canonical(
        EXPECTED_DONOR_SUMMARIES
    )


def _max_rows(node) -> int | None:
    """Catalyst's static row bound of a physical node, None if unbounded."""
    link = node.logicalLink()
    if link.isEmpty() or link.get().maxRows().isEmpty():
        return None
    return link.get().maxRows().get()


def plan_shape_violations(df) -> list[str]:
    """Full outer joins, and nested-loop or cartesian joins whose build
    side (either side, for a cartesian product) may exceed one row."""
    found = []

    def walk(node):
        name = node.nodeName()
        if "Join" in name and node.joinType().toString() == "FullOuter":
            found.append(f"{name} FullOuter")
        if name == "BroadcastNestedLoopJoin":
            build_right = node.buildSide().toString() == "BuildRight"
            build = node.right() if build_right else node.left()
            rows = _max_rows(build)
            if rows is None or rows > 1:
                found.append(f"{name} build side max rows {rows}")
        if name == "CartesianProduct":
            bounds = [_max_rows(node.left()), _max_rows(node.right())]
            if not any(b is not None and b <= 1 for b in bounds):
                found.append(f"{name} side max rows {bounds}")
        children = node.children()
        for i in range(children.size()):
            walk(children.apply(i))

    walk(df._jdf.queryExecution().sparkPlan())
    return found


def test_summary_plans_have_no_cross_product(summary_indexes):
    studies, donors = summary_indexes
    assert plan_shape_violations(studies) == []
    assert plan_shape_violations(donors) == []
