"""Seeded clinical release inputs built from the package's fixture template.

Copy 0 is the template itself (2 studies, 3 donors, 3 files), so a release of
one copy must reproduce the ``pipe_clinical_e2e`` golden rows. Every further
copy renames each submitter id with a ``_k<copy>`` suffix and, drawn from the
seed, adds 0-2 extra diagnoses, phenotypes and files to each donor that has
one to copy. The generator records what each written index must hold, and
``check_release`` compares the written JSON documents against that record.
"""

from __future__ import annotations

import csv
import glob
import hashlib
import json
import os
import random
import tempfile
from collections import Counter

from cqdg_etl_spark.pipeline.fixtures import (
    write_clinical_fixtures,
    write_dictionary,
    write_ontology_fixtures,
)

# Submitter ids a copy renames, in every TSV that carries them.
ID_COLUMNS = (
    "submitter_donor_id",
    "submitter_family_id",
    "submitter_family_condition_id",
    "submitter_diagnosis_id",
    "submitter_treatment_id",
    "submitter_follow_up_id",
    "submitter_phenotype_id",
    "submitter_biospecimen_id",
    "submitter_sample_id",
)
# TSV stem -> the id column an extra row gets a fresh value in.
FAN_OUT = {"diagnosis": "submitter_diagnosis_id",
           "phenotype": "submitter_phenotype_id",
           "file": "file_name"}


def _read_tsv(path: str) -> tuple[list[str], list[dict[str, str]]]:
    with open(path, newline="") as fh:
        reader = csv.DictReader(fh, delimiter="\t")
        return list(reader.fieldnames or []), list(reader)


def _write_tsv(path: str, header: list[str], rows: list[dict[str, str]]) -> None:
    with open(path, "w") as fh:
        fh.write("\t".join(header) + "\n")
        for row in rows:
            fh.write("\t".join(row[c] for c in header) + "\n")


def _suffix(value: str, tag: str) -> str:
    """``f1.gvcf`` -> ``f1_k7.gvcf``; ``PT01`` -> ``PT01_k7``; empty stays."""
    if not value or not tag:
        return value
    stem, dot, ext = value.partition(".")
    return f"{stem}_{tag}{dot}{ext}"


def file_internal_id(study_id: str, donor_id: str, file_name: str) -> str:
    """The release's file id: ``file_`` + 16 hex of the business-key sha1."""
    key = "_".join(["file", study_id, donor_id, file_name])
    return "file_" + hashlib.sha1(key.encode()).hexdigest()[:16]


def generate_release(root: str, copies: int, seed: int) -> dict:
    """Write ``raw/``, ``ontology/`` and ``dictionary.json`` under ``root``
    and return the expected index contents:
    ``{"studies"|"donors"|"files": {doc_key: [label, n_nested, n_aux]}}``
    where n_nested is donors per study, files per donor and biospecimens per
    file, and n_aux is files per study, diagnoses per donor and donors per
    file."""
    rng = random.Random(seed)
    raw = f"{root}/raw"
    os.makedirs(raw, exist_ok=True)
    write_ontology_fixtures(f"{root}/ontology")
    write_dictionary(f"{root}/dictionary.json")

    with tempfile.TemporaryDirectory(dir=root) as tmpl:
        write_clinical_fixtures(tmpl)
        tables = {
            os.path.basename(p)[: -len(".tsv")]: _read_tsv(p)
            for p in sorted(glob.glob(f"{tmpl}/*.tsv"))
        }
        with open(f"{tmpl}/study_version_metadata.json") as src, open(
            f"{raw}/study_version_metadata.json", "w"
        ) as dst:
            dst.write(src.read())

    out: dict[str, list[dict[str, str]]] = {name: [] for name in tables}
    for k in range(copies):
        tag = f"k{k}" if k else ""
        for name, (header, rows) in tables.items():
            if name == "study":
                if k == 0:
                    out[name].extend(rows)
                continue
            copied = [
                {c: (_suffix(v, tag) if c in ID_COLUMNS or c == "file_name" else v)
                 for c, v in row.items()}
                for row in rows
            ]
            out[name].extend(copied)
            if k == 0 or name not in FAN_OUT:
                continue
            first_per_donor: dict[str, dict[str, str]] = {}
            for row in copied:
                first_per_donor.setdefault(row["submitter_donor_id"], row)
            id_col = FAN_OUT[name]
            for _, row in sorted(first_per_donor.items()):
                for extra in range(rng.randrange(3)):
                    out[name].append({**row, id_col: _suffix(row[id_col], f"x{extra}")})
    for name, (header, _) in tables.items():
        _write_tsv(f"{raw}/{name}.tsv", header, out[name])
    return expected_indexes(out)


def expected_indexes(tables: dict[str, list[dict[str, str]]]) -> dict:
    donors, files = tables["donor"], tables["file"]
    donors_per_study = Counter(d["study_id"] for d in donors)
    files_per_study = Counter(f["study_id"] for f in files)
    files_per_donor = Counter(f["submitter_donor_id"] for f in files)
    diagnoses_per_donor = Counter(x["submitter_donor_id"] for x in tables["diagnosis"])
    return {
        "studies": {
            s["study_id"]: [s["short_name"], donors_per_study[s["study_id"]],
                            files_per_study[s["study_id"]]]
            for s in tables["study"]
        },
        "donors": {
            d["submitter_donor_id"]: [d["gender"] or "no-data",
                                      files_per_donor[d["submitter_donor_id"]],
                                      diagnoses_per_donor[d["submitter_donor_id"]]]
            for d in donors
        },
        "files": {
            file_internal_id(f["study_id"], f["submitter_donor_id"], f["file_name"]):
                [f["variant_class"] or "no-data", 1, 1]
            for f in files
        },
    }


def read_indexes(index_dir: str) -> dict:
    """Read the partitioned-JSON indexes back into the shape
    ``generate_release`` returns. ``study_id`` is a partition column, so it
    comes from the directory name."""

    def size(doc: dict, key: str) -> int:
        return len(doc.get(key) or [])

    got: dict[str, dict[str, list]] = {"studies": {}, "donors": {}, "files": {}}
    for index in got:
        for path in glob.glob(f"{index_dir}/{index}/study_id=*/**/*.json", recursive=True):
            study_id = path.split("study_id=", 1)[1].split("/", 1)[0]
            with open(path) as fh:
                for line in fh:
                    doc = json.loads(line)
                    if index == "studies":
                        key, row = study_id, [doc.get("short_name"),
                                              size(doc, "donors"), size(doc, "files")]
                    elif index == "donors":
                        key, row = doc["submitter_donor_id"], [
                            doc.get("gender"), size(doc, "files"), size(doc, "diagnoses")]
                    else:
                        key, row = doc["internal_file_id"], [
                            doc.get("file_variant_class"),
                            size(doc, "biospecimen"), size(doc, "donors")]
                    if key in got[index]:
                        raise ValueError(f"duplicate {index} document {key}")
                    got[index][key] = row
    return got


def check_release(index_dir: str, expected: dict) -> list[str]:
    """Differences between the written indexes and ``expected``, at most a
    few per index; empty when the release is correct."""
    got = read_indexes(index_dir)
    problems = []
    for index, want in expected.items():
        have = got[index]
        if len(have) != len(want):
            problems.append(f"{index}: {len(have)} documents, expected {len(want)}")
        bad = [k for k in want if have.get(k) != want[k]]
        problems += [f"{index}/{k}: {have.get(k)} != {want[k]}" for k in bad[:3]]
    return problems
