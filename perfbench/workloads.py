"""The benchmark's workloads. Each drives the package's public functions on the
generated inputs; one call of ``run_pass`` is one closed-loop pass that
verifies its own output.

A pass returns a ``PassResult``: items processed (the workload's unit of
work), operations attempted and failed, and the first problems seen. An
operation fails when it raises or its output does not verify.

``corrupt=True`` perturbs each output before verification; the
benchmark's tests use it to show that verification catches a wrong
answer.
"""

from __future__ import annotations

import os
import shutil
import traceback
from dataclasses import dataclass, field
from functools import reduce

from pyspark.sql import functions as F

from c3dc_etl_spark.harmonize.builder import build_node
from c3dc_etl_spark.link import wire_links
from c3dc_etl_spark.mapping.compiler import CompilerContext
from c3dc_etl_spark.mapping.model import load_mappings, mapping_errors
from c3dc_etl_spark.merge import first_wins_merge, reconciliation_counts
from c3dc_etl_spark.pinning import pin, release_pinned
from c3dc_etl_spark.plans.reference_files import reference_file_frame
from c3dc_etl_spark.rowmapped import build_rowmapped_node, parse_rule_rows
from c3dc_etl_spark.rowmapped.builder import rule_errors
from c3dc_etl_spark.schema.registry import SchemaRegistry
from c3dc_etl_spark.sink import (
    assemble_document,
    duplicate_report,
    node_count_report,
    save_harmonized_json,
)
from c3dc_etl_spark.sink.tablelog import TableLog
from c3dc_etl_spark.sources import read_delimited, read_manifest, read_subject_documents
from c3dc_etl_spark.suite import REGISTRY
from c3dc_etl_spark.validate import document_errors, referential_violations

from perfbench.oracle import DEDUP_QUERIES, GRAPH_QUERIES, value_hash_fn

REG = SchemaRegistry()


@dataclass
class PassResult:
    items: int = 0
    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.problems.append(what)


class Workload:
    # Warm passes a run measures at least. A fixed count keeps the median
    # comparable across runs: later passes are still getting faster as
    # the JIT warms, so a time-driven count would bias it. A warm pass
    # takes 8-14 s on local[4], and a third one does not fit the
    # benchmark's time budget (README.md).
    warm_passes = 2

    def __init__(self, spark, data_dir: str, meta: dict, work_dir: str, corrupt: bool = False):
        self.spark = spark
        self.data = data_dir
        self.meta = meta
        self.work = work_dir
        self.corrupt = corrupt
        self.value_hash = value_hash_fn()
        os.makedirs(work_dir, exist_ok=True)

    def run_pass(self, tr) -> PassResult:
        raise NotImplementedError


# ---------------------------------------------------------------------------
# study_harmonize
# ---------------------------------------------------------------------------

SEX = [{"old_value": "1", "new_value": "Male"}, {"old_value": "2", "new_value": "Female"},
       {"old_value": "+", "new_value": "Unknown"}]
RACE = [{"old_value": "*", "new_value": "{race}"}]
UUID = [{"old_value": "*", "new_value": "{uuid}"}]
DX = [{"old_value": "+", "new_value": "{find_enum_value}"}]


def _m(field_: str, source: str, repl: list | None = None) -> dict:
    out = {"output_field": field_, "source_field": source}
    if repl:
        out["replacement_values"] = repl
    return out


PROGRAMS = {
    "study": [
        _m("study.study_id", "sid"),
        _m("study.dbgap_accession", "[phs000000]"),
        _m("study.study_name", "sname"),
        _m("consent_group.consent_group_id", "cgid"),
        _m("consent_group.consent_group_name", "cgname"),
    ],
    "ccdi": [
        _m("participant.participant_id", "pid"),
        _m("participant.sex_at_birth", "sex", SEX),
        _m("participant.race", "[race, eth]", RACE),
        _m("diagnosis.diagnosis_id", "dxid"),
        _m("diagnosis.diagnosis", "dx_code", DX),
        _m("diagnosis.age_at_diagnosis", "age_dx"),
        _m("diagnosis.tumor_classification", "[Primary]"),
    ],
    "mci": [
        _m("participant.participant_id", "usi"),
        _m("participant.sex_at_birth", "SEX", SEX),
        _m("participant.race", "[RACE, ETH]", RACE),
        _m("diagnosis.diagnosis_id", "[uuid]", UUID),
        _m("diagnosis.diagnosis", "DX_CODE", DX),
        _m("diagnosis.age_at_diagnosis", "DX_AGE"),
        _m("diagnosis.tumor_classification", "[Primary]"),
    ],
    "target": [
        _m("participant.participant_id", "usi"),
        _m("participant.sex_at_birth", "sex", SEX),
        _m("participant.race", "[race, eth]", RACE),
        _m("diagnosis.diagnosis_id", "[uuid]", UUID),
        _m("diagnosis.diagnosis", "dx_code", DX),
        _m("diagnosis.age_at_diagnosis", "age_dx"),
        _m("diagnosis.tumor_classification", "[Primary]"),
    ],
}
TREATMENT_RULES = [
    {"Source Variable Name": "chemo_flag", "Source Permissible Values Code": "y",
     "treatment.treatment_id": "{uuid}", "treatment.treatment_type": "Chemotherapy",
     "treatment.age_at_treatment_start": "{sum_abs_first(age_dx, '30')}"},
]
MCI_FIELDS = ("SEX", "RACE", "ETH", "DX_CODE", "DX_AGE")
STUDY_ID, CONSENT_ID = "phs-bench", "cg1"
PARTICIPANT_LINK = "`participant.participant_id`"
MERGED = ("participant", "diagnosis")


class StudyHarmonize(Workload):
    """sources -> mapping -> harmonize/rowmapped/reference files -> merge
    -> link -> sink.document -> validate -> sink.reports."""

    def run_pass(self, tr) -> PassResult:
        spark, d = self.spark, self.data
        res = PassResult()
        with tr.span("sources"):
            ccdi = {n: read_delimited(spark, f"{d}/ccdi/{n}.tsv", sep="\t")
                    for n in ("participant", "diagnosis")}
            mci = read_subject_documents(spark, f"{d}/mci", fields=MCI_FIELDS)
            releases = [read_delimited(spark, f"{d}/target/release{i}.tsv", sep="\t")
                        for i in (1, 2)]
            manifest = read_manifest(spark, f"{d}/mci_manifest.tsv", sep="\t")
            singleton = spark.createDataFrame(
                [(STUDY_ID, "Benchmark Study", CONSENT_ID, "General Research Use")],
                "sid string, sname string, cgid string, cgname string")

        with tr.span("mapping"):
            schema_props = {n: {p.name for p in REG.node(n).props} for n in REG.node_names}
            programs = {k: load_mappings(v) for k, v in PROGRAMS.items()}
            errors = [e for p in programs.values()
                      for e in mapping_errors(p, schema_props=schema_props)]
            rules = parse_rule_rows(TREATMENT_RULES, "treatment")
            errors += rule_errors(rules, "treatment", REG)
            if errors:
                raise ValueError("mapping validation failed: " + "; ".join(errors))

            def ctx(seed: str, identity: str) -> CompilerContext:
                return CompilerContext(registry=REG, uuid_seed=seed, row_identity=(identity,))

        with tr.span("harmonize"):
            consent = {"consent_group.consent_group_id": CONSENT_ID}

            def nodes(src, program, c, id_col, kinds):
                out = {"participant": build_node(
                    src["participant"], "participant", program, c,
                    explode_subrecords=False, extra_columns=consent)}
                for kind in kinds:
                    out[kind] = build_node(
                        src[kind], kind, program, c, explode_subrecords=False,
                        carry_columns={"participant.participant_id": id_col})
                return out

            parts = {
                "study": build_node(singleton, "study", programs["study"], ctx("s", "sid"),
                                    explode_subrecords=False),
                "consent_group": build_node(
                    singleton, "consent_group", programs["study"], ctx("s", "sid"),
                    explode_subrecords=False, carry_columns={"study.study_id": "sid"}),
            }
            ccdi_nodes = nodes(ccdi, programs["ccdi"], ctx("ccdi", "pid"), "pid",
                               ("diagnosis",))
            mci_ctx = ctx("mci", "usi")
            mci_nodes = nodes({"participant": mci, "diagnosis": mci}, programs["mci"],
                              mci_ctx, "usi", ("diagnosis",))
            target_nodes = [
                nodes({"participant": rel, "diagnosis": rel}, programs["target"],
                      ctx(f"target{i}", "usi"), "usi", ("diagnosis",))
                for i, rel in enumerate(releases)
            ]
            ref_files = reference_file_frame(mci_nodes["participant"], manifest, mci_ctx)
            ref_files = ref_files.withColumn("study.study_id", F.lit(STUDY_ID))

        with tr.span("rowmapped"):
            treatment = build_rowmapped_node(ccdi["participant"], "treatment", rules,
                                             ctx("ccdi", "pid"))

        with tr.span("merge"):
            merged, n_in, n_out = {}, 0, 0
            for node in MERGED:
                key = ("participant_id",) if node == "participant" else (PARTICIPANT_LINK,)
                inputs = [t[node] for t in target_nodes]
                m = pin(first_wins_merge(inputs, node, REG, key_cols=key))
                rec = reconciliation_counts(m, inputs, node, REG).collect()[0]
                res.check(rec["distinct_unmerged"] == rec["distinct_merged"],
                          f"merge {node}: reconciliation {rec}")
                n_out += m.count()
                n_in += sum(self.meta["props"]["target_release_rows"])
                merged[node] = m.drop("fingerprint", "won_ord")
            tr.add("merge", "yield", n_out / n_in)

        with tr.span("link"):
            frames = dict(parts)
            for node in MERGED:
                frames[node] = reduce(
                    lambda a, b: a.unionByName(b, allowMissingColumns=True),
                    [ccdi_nodes[node], mci_nodes[node], merged[node]])
            frames["treatment"] = treatment
            frames["reference_file"] = ref_files
            # three sinks consume every frame: the package's multi-consumer pin
            frames = {n: pin(df) for n, df in wire_links(frames, REG).items()}

        with tr.span("sink.document"):
            doc = assemble_document(frames, REG)
            path = os.path.join(self.work, "harmonized.json")
            save_harmonized_json(doc, path)
        records = sum(len(v) for v in doc.values())
        tr.add("sink.document", "records", records)
        tr.add("sink.document", "bytes", os.path.getsize(path))
        if self.corrupt:
            doc["diagnoses"][0]["diagnosis"] = "not a diagnosis"

        with tr.span("validate"):
            errors = document_errors(doc, REG)
            violations = referential_violations(frames, REG).count()
        tr.add("validate", "records_checked", records)
        res.check(errors == [], f"document_errors: {errors[:3]}")
        res.check(violations == 0, f"referential_violations: {violations}")

        with tr.span("sink.reports"):
            counts = dict(node_count_report(frames))
            dx = frames["diagnosis"].select(
                F.col(PARTICIPANT_LINK).alias("participant_id"),
                F.lit("diagnosis").alias("node"),
                F.md5(F.col("diagnosis")).alias("fingerprint"))
            duplicate_report(dx, participant_col="participant_id", node_col="node",
                             fingerprint_col="fingerprint", nodes=("diagnosis",)).collect()
        expected = self.meta["expected_counts"]
        res.check(counts == expected, f"node counts {counts} != {expected}")
        doc_counts = {n: len(doc[REG.node(n).plural]) for n in expected}
        res.check(doc_counts == expected, f"document counts {doc_counts} != {expected}")
        release_pinned()
        res.items = records
        return res


# ---------------------------------------------------------------------------
# operator_mix: similarity joins, graph fixpoints, table-log commits
# ---------------------------------------------------------------------------

def _data_files(table_dir: str) -> list[str]:
    return [os.path.join(table_dir, n) for n in os.listdir(table_dir) if n.endswith(".parquet")]


def _size(paths) -> int:
    return sum(os.path.getsize(p) for p in paths)


class OperatorMix(Workload):
    """The executor-side operator layers on one session, in turn:
    near-duplicate similarity joins (``operators.dedup``) and iterative
    graph fixpoints (``operators.graph``), both through the suite
    registry and checked against its DuckDB oracle hashes, then a
    commit script on a fresh ``sink.tablelog.TableLog`` checked against
    a DuckDB replay."""

    def run_pass(self, tr) -> PassResult:
        res = PassResult()
        pairs_out = self._registry(tr, res, "operators.dedup", DEDUP_QUERIES)
        tr.add("operators.dedup", "pairs_out", pairs_out)
        self._registry(tr, res, "operators.graph", GRAPH_QUERIES)
        self._tablelog(tr, res)
        res.items = self.meta["items"]
        return res

    def _registry(self, tr, res: PassResult, layer: str, queries: tuple[str, ...]) -> int:
        """Run each query, check it against its oracle hash; returns the
        rows of the pair-producing (similarity-join) queries."""
        pairs = 0
        for name in queries:
            try:
                with tr.span(layer, op=name):
                    df = REGISTRY[name].fn(self.spark, self.data)
                    cols = df.columns
                    rows = [tuple(r) for r in df.collect()]
            except Exception:  # noqa: BLE001 - a raising operation is a failed one
                res.check(False, f"{name}: {traceback.format_exc(limit=3)}")
                continue
            if self.corrupt and rows:
                rows = rows[1:]
            want = self.meta["oracle"][name]
            got = self.value_hash(rows, cols)
            res.check(got == want["hash"] and len(rows) == want["rows"],
                      f"{name}: {len(rows)} rows, hash {got} != oracle {want}")
            if name != "dedup_exact":
                pairs += len(rows)
        return pairs

    def _tablelog(self, tr, res: PassResult) -> None:
        """Appends, upserts, deletion-vector updates and deletes, DV and
        full compaction and vacuum, interleaved with latest, time-travel,
        change-feed and key-range reads."""
        spark = self.spark
        table_dir = os.path.join(self.work, "table")
        shutil.rmtree(table_dir, ignore_errors=True)
        tl = TableLog(table_dir, stats_col="id")
        expect = self.meta["replay"]["steps"]
        base_version = None
        disk_before_compact = 0
        for i, step in enumerate(self.meta["script"]):
            op = step["op"]
            if op == "mark_cdf_base":
                base_version = tl.latest_version()
                continue
            if op == "compact" and tr.enabled:
                tr.add("sink.tablelog", "files_written", len(_data_files(table_dir)))
                disk_before_compact = _size(_data_files(table_dir))
            batch = os.path.join(self.data, step["batch"]) if "batch" in step else None
            got = None
            try:
                with tr.span("sink.tablelog", op=op):
                    if op == "append":
                        tl.append(spark.read.parquet(batch))
                    elif op == "merge_upsert":
                        tl.merge_upsert(spark, spark.read.parquet(batch), "id")
                    elif op == "update_where_dv":
                        tl.update_where_dv(spark, step["predicate"], step["set"])
                    elif op == "delete_where_dv":
                        tl.delete_where_dv(spark, step["predicate"])
                    elif op == "compact_dv":
                        tl.compact_dv(spark)
                    elif op == "compact":
                        tl.compact(spark)
                    elif op == "vacuum":
                        tl.vacuum(keep_versions=2, grace_seconds=0)
                    elif op == "read_version_at_cdf_base":
                        got = {"rows": tl.read(spark, version=base_version).count()}
                    elif op == "read_changes_cdf":
                        got = {"rows": tl.read_changes_cdf(
                            spark, since_version=base_version).count()}
                    elif op == "read_key_range":
                        got = {"rows": tl.read(
                            spark, key_between=(step["lo"], step["hi"])).count()}
                    elif op == "read_final":
                        df = tl.read(spark).select("id", "grp", "val", "txt")
                        rows = [tuple(r) for r in df.collect()]
                        if self.corrupt and rows:
                            rows[0] = (rows[0][0], rows[0][1], rows[0][2] + 1, rows[0][3])
                        got = {"rows": len(rows),
                               "hash": self.value_hash(rows, ["id", "grp", "val", "txt"])}
                    else:
                        raise ValueError(f"unknown script op {op!r}")
            except Exception:  # noqa: BLE001 - a raising operation is a failed one
                res.check(False, f"step {i} {op}: {traceback.format_exc(limit=3)}")
                continue
            want = expect.get(str(i))
            res.check(want is None or got == want, f"step {i} {op}: {got} != {want}")
            if op == "compact" and tr.enabled:
                compacted = _size(os.path.join(table_dir, f) for f in tl.files())
                tr.add("sink.tablelog", "space_amp", disk_before_compact / compacted)
                written = _size(_data_files(table_dir)) + _size(
                    os.path.join(tl.log_dir, n) for n in os.listdir(tl.log_dir))
                tr.add("sink.tablelog", "write_amp",
                       written / self.meta["replay"]["changed_bytes"])
        if tr.enabled:
            tr.add("sink.tablelog", "commits", len(tl.versions()))


WORKLOADS = {
    "study_harmonize": StudyHarmonize,
    "operator_mix": OperatorMix,
}
