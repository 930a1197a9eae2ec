"""Per-study / per-donor availability summaries
(reference: indexes/Summary.scala).

Each summary comes from a few plain aggregations:

- one ``donor ⋈ file`` join;
- per field (``data_category``, ``experimental_strategy``), a count per
  (study[, donor], value), kept as a value → counts map and padded with
  zeros over the field's global value domain, which a one-row frame
  carries as an array;
- for clinical availability, one ``unionByName`` of the 7 clinical
  frames projected to (study_id, submitter_donor_id, key, row_complete),
  grouped once.

The reference instead full-outer-joins every frame with a study × donor
(× value) cross product, merges the per-frame results with chains of full
outer joins, and repartition(1)s the cross-join sides. The documents stay
the same because:

- the merging full outer joins never match (each side carries its own
  ``key`` literal), so they are unions;
- its ``count(DISTINCT *)`` skips every row with a null top-level column,
  so a donor's key is available iff one of the donor's rows in that frame
  has no null top-level column (``row_complete``);
- of the study × donor cross product only a donor's own (study, donor)
  pair is ever read, and it exists iff the study has a file;
- every study with a file lists every domain value, zeros included; a
  study without files, and its donors, get no summary; nor does a donor
  with no available key (the reference inner-joins
  ``clinical_data_available_only``).

The cross product held O(studies × donors × domain) rows; every
intermediate here is O(donors + files).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

FIELDS = ("data_category", "experimental_strategy")

# The 7 clinical frames summarized, in the reference's order
# (Summary.scala:105-111): (inputData key, summary key name)
CLINICAL_FRAMES = [
    ("diagnosisPerDonorAndStudy", "diagnosis"),
    ("phenotypesPerStudyIdAndDonor", "phenotype"),
    ("treatmentsPerDonorAndStudy", "treatment"),
    ("exposuresPerDonorAndStudy", "exposure"),
    ("followUpsPerDonorAndStudy", "follow_up"),
    ("familyHistoryPerDonorAndStudy", "family_history"),
    ("familyRelationshipPerDonorAndStudy", "family"),
]
DONOR_KEYS = ["study_id", "submitter_donor_id"]


def _donor_per_file(data: dict[str, DataFrame]) -> DataFrame:
    """donor ⋈ file (reference: Summary.scala:11-28)."""
    return data["donor"].join(data["file"], DONOR_KEYS)


def _file_domains(donor_per_file: DataFrame) -> DataFrame:
    """One row: per field, its distinct non-null values as an array.

    No row when a domain is empty: the reference's summaries are then
    empty too, since no (study, value) pair survives its null filter.
    """
    return donor_per_file.agg(
        *[F.collect_set(f).alias(f"{f}_domain") for f in FIELDS]
    ).filter(reduce(lambda a, b: a & b, [F.size(f"{f}_domain") > 0 for f in FIELDS]))


def _value_counts(
    donor_per_file: DataFrame, keys: list[str], field: str, counts: dict[str, Column]
) -> DataFrame:
    """Per ``keys``: a ``field`` value → struct(counts) map
    (reference: Summary.scala:30-88). Every group of ``keys`` in
    ``donor_per_file`` gets a row, empty when all its values are null."""
    return (
        donor_per_file.groupBy(*keys, field)
        .agg(*[c.alias(n) for n, c in counts.items()])
        .groupBy(*keys)
        .agg(
            F.map_from_entries(
                F.collect_list(
                    F.when(
                        F.col(field).isNotNull(), F.struct(field, F.struct(*counts))
                    )
                )
            ).alias(field)
        )
    )


def _padded(field: str, names: list[str]) -> Column:
    """[{key, <names>...}] over the field's domain, 0 where a value has no
    count (reference: the cross product's unmatched rows)."""
    return F.transform(
        F.col(f"{field}_domain"),
        lambda k: F.struct(
            k.alias("key"),
            *[F.coalesce(F.col(field)[k][n], F.lit(0)).alias(n) for n in names],
        ),
    ).alias(field)


def _clinical_rows(data: dict[str, DataFrame]) -> DataFrame:
    """(study_id, submitter_donor_id, key, row_complete) over the 7
    clinical frames; ``row_complete`` is the reference's
    ``count(DISTINCT *)`` test: no top-level column is null."""
    return reduce(
        DataFrame.unionByName,
        [
            data[k].select(
                *DONOR_KEYS,
                F.lit(name).alias("key"),
                reduce(
                    lambda a, b: a & b,
                    [data[k][c].isNotNull() for c in data[k].columns],
                ).alias("row_complete"),
            )
            for k, name in CLINICAL_FRAMES
        ],
    )


def study_summary(data: dict[str, DataFrame]) -> DataFrame:
    """(study_id, summary{data_category[{key, donors, files}],
    experimental_strategy[...], clinical_data_available[{key, donors}]})
    (reference: Summary.scala:30-59, 90-131)."""
    dpf = _donor_per_file(data)
    counts = {
        "donors": F.countDistinct("submitter_donor_id"),
        "files": F.countDistinct("file_name"),
    }
    by_field = [_value_counts(dpf, ["study_id"], f, counts) for f in FIELDS]
    clinical = (
        _clinical_rows(data)
        .groupBy("study_id", "key")
        .agg(F.countDistinct("submitter_donor_id").alias("donors"))
        .groupBy("study_id")
        .agg(F.collect_list(F.struct("key", "donors")).alias("clinical_data_available"))
    )
    # Inner joins, as the reference's: a study without a file or without
    # a clinical row gets no summary.
    return (
        reduce(lambda a, b: a.join(b, "study_id"), [*by_field, clinical])
        .crossJoin(F.broadcast(_file_domains(dpf)))
        .select(
            "study_id",
            F.struct(
                *[_padded(f, list(counts)) for f in FIELDS], "clinical_data_available"
            ).alias("summary"),
        )
    )


def donor_summary(data: dict[str, DataFrame]) -> DataFrame:
    """(study_id, submitter_donor_id, summary{data_category[{key, files}],
    experimental_strategy[...], clinical_data_available[{key, available}],
    clinical_data_available_only[{key}]})
    (reference: Summary.scala:61-88, 134-196)."""
    dpf = _donor_per_file(data)
    clinical_keys = F.array(*[F.lit(name) for _, name in CLINICAL_FRAMES])
    counts = {"files": F.countDistinct("file_name")}
    by_field = [_value_counts(dpf, DONOR_KEYS, f, counts) for f in FIELDS]
    # Only donors of a study with a file, and with an available key, get a
    # summary (the reference's cross product and inner joins).
    available = (
        _clinical_rows(data)
        .groupBy(*DONOR_KEYS)
        .agg(
            F.collect_set(F.when(F.col("row_complete"), F.col("key"))).alias(
                "available_keys"
            )
        )
        .filter(F.size("available_keys") > 0)
        .join(dpf.select("study_id").distinct(), "study_id", "left_semi")
    )
    return (
        reduce(lambda a, b: a.join(b, DONOR_KEYS, "left"), [available, *by_field])
        .crossJoin(F.broadcast(_file_domains(dpf)))
        .select(
            *DONOR_KEYS,
            F.struct(
                *[_padded(f, list(counts)) for f in FIELDS],
                F.transform(
                    clinical_keys,
                    lambda k: F.struct(
                        k.alias("key"),
                        F.array_contains("available_keys", k).alias("available"),
                    ),
                ).alias("clinical_data_available"),
                F.transform(
                    F.filter(
                        clinical_keys, lambda k: F.array_contains("available_keys", k)
                    ),
                    lambda k: F.struct(k.alias("key")),
                ).alias("clinical_data_available_only"),
            ).alias("summary"),
        )
    )
