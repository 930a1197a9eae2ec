"""One Spark driver of a benchmark run.

``python3 worker.py SPEC.json`` runs one command (``preprocess``,
``process`` or ``registry``) as a caller of the package would, times each
call into it from outside, and writes the spans and counts to the spec's
``out`` path. Nothing in the package is changed: spans are the benchmark's
own, and in a traced run each is also set as the Spark job group so the
event log attributes jobs to it.
"""

from __future__ import annotations

import json
import random
import sys
import time
from contextlib import contextmanager

STARTED = time.time()


class Spans:
    """Spans kept in memory (name, parent, start/end in epoch ms) and
    written out when the driver ends."""

    def __init__(self, sc, trace: bool):
        self.sc, self.trace, self.items, self.stack = sc, trace, [], []

    @contextmanager
    def span(self, name: str):
        parent = self.stack[-1] if self.stack else None
        self.stack.append(name)
        if self.trace:
            self.sc.setJobGroup(name, name)
        start = time.time() * 1e3
        try:
            yield
        finally:
            self.items.append({"name": name, "parent": parent,
                               "start": start, "end": time.time() * 1e3})
            self.stack.pop()
            if self.trace:
                self.sc.setJobGroup(parent or "", parent or "")

    def total_s(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.items if s["name"] == name) / 1e3


class TimedDictionary:
    """Dictionary port that times the wrapped ``load_schemas`` call."""

    def __init__(self, inner):
        self.inner, self.seconds = inner, 0.0

    def load_schemas(self):
        start = time.perf_counter()
        try:
            return self.inner.load_schemas()
        finally:
            self.seconds += time.perf_counter() - start


class CountingResolver:
    """IdResolver port that counts ``resolve`` calls."""

    def __init__(self, inner):
        self.inner, self.calls = inner, 0

    def resolve(self, df, entity):
        self.calls += 1
        return self.inner.resolve(df, entity)


def driver_peak_rss_mb(spark) -> float:
    """The driver JVM's resident-memory high-water mark (VmHWM)."""
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("VmHWM missing from /proc status")


def run_preprocess(spark, spans: Spans, spec: dict) -> dict:
    from cqdg_etl_spark.pipeline.clients import DeterministicIdResolver, FixtureDictionary
    from cqdg_etl_spark.pipeline.preprocess import PreProcessETL

    root = spec["root"]
    dictionary = TimedDictionary(FixtureDictionary(f"{root}/dictionary.json"))
    resolver = CountingResolver(DeterministicIdResolver())
    etl = PreProcessETL(spark, dictionary, resolver, f"{root}/raw", f"{root}/with-ids")
    with spans.span("preprocess"):
        with spans.span("preprocess.extract"):
            data = etl.extract()
        with spans.span("preprocess.transform"):
            frames = etl.transform(data)
        with spans.span("preprocess.load"):
            etl.load(frames)
    return {"wall_s": spans.total_s("preprocess"),
            "clients.dictionary_s": dictionary.seconds,
            "clients.resolve_calls": resolver.calls}


def run_process(spark, spans: Spans, spec: dict) -> dict:
    from cqdg_etl_spark.pipeline.clients import RecordingKeycloak
    from cqdg_etl_spark.pipeline.etl import ProcessETL

    root = spec["root"]
    keycloak = RecordingKeycloak(enabled=True)
    etl = ProcessETL(spark, f"{root}/with-ids", f"{root}/ontology",
                     f"{root}/indexes", keycloak=keycloak)
    with spans.span("process"):
        with spans.span("process.extract"):
            entities, ontologies = etl.extract()
        with spans.span("process.transform"):
            indexes = etl.transform(entities, ontologies)
        with spans.span("process.load"):
            etl.load(*indexes)
    return {"wall_s": spans.total_s("process"),
            "clients.keycloak_resources": len(keycloak.created)}


def oracle_mismatch(actual, expected) -> str | None:
    """The repo's oracle comparison (order-insensitive canonical rows, from
    ``tests.oracle_harness``) plus its strict gate's per-column dtype check."""
    from tests.oracle_harness import canonical_rows

    cols = sorted(actual.columns)
    if cols != sorted(expected.columns):
        return f"columns {cols} != {sorted(expected.columns)}"
    dtypes = [(c, str(actual[c].dtype), str(expected[c].dtype)) for c in cols
              if str(actual[c].dtype) != str(expected[c].dtype)]
    if dtypes:
        return "dtypes differ: " + ", ".join(f"{c} {a} != {e}" for c, a, e in dtypes)
    if len(actual) != len(expected):
        return f"{len(actual)} rows != {len(expected)}"
    return None if canonical_rows(actual) == canonical_rows(expected) else "values differ"


def run_registry(spark, spans: Spans, spec: dict) -> dict:
    import duckdb

    from cqdg_etl_spark.queries import REGISTRY
    from tests.oracle_harness import duckdb_conn

    data, names = spec["data_dir"], list(spec["queries"])
    random.Random(spec["seed"]).shuffle(names)
    per_query, failures, results = {}, {}, {}

    def one_pass(measured: bool) -> None:
        layer = "queries" if measured else "warmup"
        for name in names:
            spark.catalog.clearCache()
            try:
                with spans.span(f"{layer}.plan"):
                    df = REGISTRY[name].fn(spark, data)
                if measured:
                    with spans.span(f"{layer}.cold"):
                        df.write.format("noop").mode("overwrite").save()
                with spans.span(f"{layer}.warm"):
                    results[name] = df.toPandas()
            except Exception as exc:  # noqa: BLE001 - one query must not end the run
                failures[name] = f"{type(exc).__name__}: {exc}"[:300]
                continue
            if measured:
                per_query.setdefault(name, []).append(
                    [(s["end"] - s["start"]) / 1e3 for s in spans.items[-3:]])

    # A long-lived session has run its queries before: one untimed pass of
    # fn() and toPandas() takes JIT, code generation and Python-worker
    # start-up out of the measured passes. Its spans are named ``warmup.*``.
    warmup_start = time.perf_counter()
    one_pass(measured=False)
    warmup_s = time.perf_counter() - warmup_start

    deadline = time.perf_counter() + spec["seconds"]
    passes = 0
    while passes == 0 or time.perf_counter() < deadline:
        one_pass(measured=True)
        passes += 1
    spark.catalog.clearCache()

    oracle_start = time.perf_counter()
    con = duckdb_conn(data)
    for name, actual in results.items():
        try:
            diff = oracle_mismatch(actual, con.execute(REGISTRY[name].oracle).df())
        except duckdb.Error as exc:
            diff = f"{type(exc).__name__}: {exc}"[:300]
        if diff:
            failures[name] = f"oracle: {diff}"
    con.close()
    return {"passes": passes, "warmup_s": warmup_s,
            "oracle_s": time.perf_counter() - oracle_start, "per_query": per_query,
            "failures": failures}


COMMANDS = {"preprocess": run_preprocess, "process": run_process,
            "registry": run_registry}


def main(spec_path: str) -> None:
    with open(spec_path) as fh:
        spec = json.load(fh)
    from cqdg_etl_spark.session import get_spark

    spark = get_spark(app_name=f"perfbench-{spec['command']}", extra_conf=spec["conf"])
    session_s = time.time() - STARTED
    spans = Spans(spark.sparkContext, spec["trace"])
    result = {"session_s": session_s}
    try:
        result.update(COMMANDS[spec["command"]](spark, spans, spec))
    except Exception as exc:  # noqa: BLE001 - reported to the parent as a failure
        import traceback

        traceback.print_exc()
        result["error"] = f"{type(exc).__name__}: {exc}"[:500]
    result["peak_rss_mb"] = driver_peak_rss_mb(spark)
    result["app_id"] = spark.sparkContext.applicationId
    result["spans"] = spans.items
    spark.stop()
    with open(spec["out"], "w") as fh:
        json.dump(result, fh)


if __name__ == "__main__":
    main(sys.argv[1])
