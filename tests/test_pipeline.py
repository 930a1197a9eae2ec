"""End-to-end golden tests for the CQDG pipeline (pre-process + process).

Mirrors the reference's golden-record strategy (PreProcessETLTest /
ProcessETLTest) but with the process-stage assertions the reference left
commented out (ProcessETLTest.scala:39-53) actually enabled.
"""

from __future__ import annotations

import hashlib

import pytest

from cqdg_etl_spark.pipeline.clients import (
    DeterministicIdResolver,
    FixtureDictionary,
    RecordingKeycloak,
)
from cqdg_etl_spark.pipeline.etl import ProcessETL
from cqdg_etl_spark.pipeline.preprocess import PreProcessETL
from tests.fixtures.clinical import (
    write_clinical_fixtures,
    write_dictionary,
    write_ontology_fixtures,
)


def expected_internal_id(entity: str, *keys: str) -> str:
    h = hashlib.sha1("_".join([entity, *keys]).encode()).hexdigest()
    return f"{entity}_{h[:16]}"


@pytest.fixture(scope="module")
def pipeline_dirs(tmp_path_factory):
    root = tmp_path_factory.mktemp("cqdg")
    raw = root / "raw"
    onto = root / "ontology"
    write_clinical_fixtures(str(raw))
    write_ontology_fixtures(str(onto))
    write_dictionary(str(root / "dictionary.json"))
    return {
        "raw": str(raw),
        "ontology": str(onto),
        "dictionary": str(root / "dictionary.json"),
        "with_ids": str(root / "with-ids"),
        "indexes": str(root / "indexes"),
    }


@pytest.fixture(scope="module")
def preprocessed(spark, pipeline_dirs):
    etl = PreProcessETL(
        spark,
        FixtureDictionary(pipeline_dirs["dictionary"]),
        DeterministicIdResolver(),
        pipeline_dirs["raw"],
        pipeline_dirs["with_ids"],
    )
    frames = etl.run()
    return {nf.name: nf for nf in frames}


@pytest.fixture(scope="module")
def processed(spark, pipeline_dirs, preprocessed):
    keycloak = RecordingKeycloak(enabled=True)
    etl = ProcessETL(
        spark,
        pipeline_dirs["with_ids"],
        pipeline_dirs["ontology"],
        pipeline_dirs["indexes"],
        keycloak=keycloak,
    )
    studies, donors, files = etl.run()
    return {
        "studies": studies.collect(),
        "donors": donors.collect(),
        "files": files.collect(),
        "keycloak": keycloak,
    }


# ------------------------------------------------------------ pre-process


def test_preprocess_entity_count(preprocessed):
    assert len(preprocessed) == 12  # metadata frame filtered out


def test_preprocess_donor_golden(preprocessed):
    rows = {r.submitter_donor_id: r for r in preprocessed["donor"].df.collect()}
    assert set(rows) == {"PT01", "PT02", "PT03"}
    pt01 = rows["PT01"]
    assert pt01.internal_donor_id == expected_internal_id("donor", "ST01", "PT01")
    assert pt01.dob == "6/9/1946"
    # off-schema quirk columns are dropped by dictionary validation
    cols = preprocessed["donor"].df.columns
    assert "age TODAY" not in cols and "age at recruit" not in cols
    assert cols[-1] == "internal_donor_id"


def test_preprocess_study_metadata_stamped(preprocessed):
    row = preprocessed["study"].df.filter("study_id = 'ST01'").first()
    assert row.dictionary_version == "5.58"
    assert row.study_version == "1.0"
    assert row.study_version_creation_date == "2020/07/01"


def test_preprocess_followup_offschema_dropped(preprocessed):
    cols = preprocessed["follow-up"].df.columns
    assert "days_to_follow-up" not in cols  # TSV spelling is off-schema
    assert "internal_followup_id" in cols


def test_preprocess_unknown_dictionary_version_raises(spark, pipeline_dirs, tmp_path):
    import json

    bad = tmp_path / "bad-dict.json"
    bad.write_text(json.dumps({"9.99": {"study": ["study_id"]}}))
    etl = PreProcessETL(
        spark,
        FixtureDictionary(str(bad)),
        DeterministicIdResolver(),
        pipeline_dirs["raw"],
        pipeline_dirs["with_ids"],
    )
    with pytest.raises(RuntimeError, match="dictionary schema for version 5.58"):
        etl.transform(etl.extract())


# ---------------------------------------------------------------- process


@pytest.mark.parametrize("ontology", ["hpo", "mondo", "icd"])
def test_term_schema_matches_inferred(spark, pipeline_dirs, ontology):
    from cqdg_etl_spark.pipeline.ontology import TERM_SCHEMA

    path = f"{pipeline_dirs['ontology']}/{ontology}_terms.json"
    assert spark.read.json(path).schema == TERM_SCHEMA


def _study(processed, study_id):
    return next(r for r in processed["studies"] if r.study_id == study_id)


def _donor(processed, donor_id):
    return next(
        r for r in processed["donors"] if r.submitter_donor_id == donor_id
    )


def test_study_index_shape(processed):
    assert len(processed["studies"]) == 2
    st01 = _study(processed, "ST01")
    assert len(st01.donors) == 2
    assert len(st01.files) == 2
    assert st01.study_version == "1.0"
    assert st01.short_name == "HC"
    assert st01.study_id_keyword == "ST01"


def test_study_donor_nested_diagnosis(processed):
    st01 = _study(processed, "ST01")
    pt01 = next(d for d in st01.donors if d.submitter_donor_id == "PT01")
    assert pt01.age_at_recruitment == "63"
    assert pt01.gender == "Male"
    dx = pt01.diagnoses[0]
    assert dx.submitter_diagnosis_id == "DI01"
    assert dx.tagged_mondo.phenotype_id == "MONDO:0005068"
    assert dx.tagged_mondo.main_category == "disease by anatomical system (MONDO:0021199)"
    assert dx.tagged_mondo.age_at_event == ["54"]
    assert dx.tagged_icd.main_category == "Ischaemic heart diseases (I20-I25)"
    assert dx.treatments[0].submitter_treatment_id == "TX01"
    assert dx.follow_ups[0].submitter_follow_up_id == "FU01"
    # mondo array = tagged term + its ancestor
    mondo_ids = {(m.phenotype_id, m.is_tagged) for m in pt01.mondo}
    assert ("MONDO:0005068", True) in mondo_ids
    assert ("MONDO:0021199", False) in mondo_ids


def test_study_donor_phenotypes(processed):
    st01 = _study(processed, "ST01")
    pt01 = next(d for d in st01.donors if d.submitter_donor_id == "PT01")
    observed = {p.phenotype_id: p for p in pt01.observed_phenotype_tagged}
    assert set(observed) == {"HP:0001658"}
    assert (
        observed["HP:0001658"].main_category
        == "Abnormality of the cardiovascular system (HP:0001626)"
    )
    assert observed["HP:0001658"].age_at_event == ["63"]
    not_observed = {p.phenotype_id for p in pt01.not_observed_phenotype_tagged}
    assert not_observed == {"HP:0004322"}


def test_study_summary(processed):
    st01 = _study(processed, "ST01")
    cat = {c.key: c for c in st01.summary.data_category}
    assert cat["genomics"].donors == 1 and cat["genomics"].files == 2
    strat = {s.key: s for s in st01.summary.experimental_strategy}
    assert strat["WGS"].files == 2
    clin = {c.key: c.donors for c in st01.summary.clinical_data_available}
    assert clin["diagnosis"] == 1
    assert clin["phenotype"] == 1
    assert clin["family"] == 2  # both PT01+PT02 have family rows


def test_study_data_access(processed):
    st01 = _study(processed, "ST01")
    codes = st01.data_access_codes
    assert codes.access_limitations == "general research use (DUO:0000005)"
    assert sorted(codes.access_requirements) == [
        "data use permission (DUO:0000017)",
        "publication required (DUO:0000024)",
    ]


def test_donor_index(processed):
    assert len(processed["donors"]) == 3
    pt01 = _donor(processed, "PT01")
    assert len(pt01.study) == 1 and pt01.study[0].study_id == "ST01"
    assert len(pt01.files) == 2
    assert {f.file_format for f in pt01.files} == {"gvcf", "cram"}
    avail = {a.key: a.available for a in pt01.summary.clinical_data_available}
    assert avail["diagnosis"] is True and avail["exposure"] is True
    pt02 = _donor(processed, "PT02")
    avail02 = {a.key: a.available for a in pt02.summary.clinical_data_available}
    assert avail02["diagnosis"] is False
    assert avail02["family"] is True
    only02 = {a.key for a in (pt02.summary.clinical_data_available_only or [])}
    assert "diagnosis" not in only02 and "family" in only02
    # familyHistory alias of familyConditions (reference DonorIndex.scala:87)
    assert pt01.familyHistory[0].family_condition_name == "hypertension"


def test_file_index(processed):
    assert len(processed["files"]) == 3
    f2 = next(
        r
        for r in processed["files"]
        if r.file_format == "cram"
    )
    assert f2.file_variant_class == "no-data"  # empty variant_class
    assert len(f2.donors) == 1 and f2.donors[0].submitter_donor_id == "PT01"
    assert len(f2.study) == 1 and f2.study[0].study_id == "ST01"
    bio = f2.biospecimen[0]
    assert bio.tissue_source == "blood"
    assert {s.submitter_sample_id for s in bio.samples} == {"SA01", "SA02"}
    assert 1.0 <= f2.file_size <= 25.0
    assert "file_name" not in processed["files"][0].__fields__


def test_keycloak_resource_set(processed):
    expected = {
        expected_internal_id("file", "ST01", "PT01", "f1.gvcf"),
        expected_internal_id("file", "ST01", "PT01", "f2.cram"),
        expected_internal_id("file", "ST02", "PT03", "f3.gvcf"),
    }
    assert processed["keycloak"].created == expected


def test_partitioned_json_written(processed, pipeline_dirs):
    import glob

    parts = glob.glob(
        f"{pipeline_dirs['indexes']}/studies/study_id=*/dictionary_version=*/"
        "study_version=*/study_version_creation_date=*/*.json"
    )
    assert parts, "expected partitioned JSON output for studies"
