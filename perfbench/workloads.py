"""The benchmark's workloads: one pass of each, and the checks on its outputs.

A *pass* is the unit that is timed: one ``run_mailing_job`` call, or one
execution of every query of a workload.  The checks run outside the timed
passes and decide, per operation, whether its output was correct.

- ``mailing_job``: ``run_mailing_job`` end to end on generated CSVs, with
  the process report, the state file and the zip archive on.  An
  operation is one ``run_mailing_job`` call.
- ``iterative_queries``: loop operators from ``__spark_entry__.queries()``
  on generated parquet, noop sink, seed-permuted order.  An operation is
  one query execution.
"""

from __future__ import annotations

import csv
import hashlib
import random
import shutil
import sys
import traceback
from datetime import datetime
from pathlib import Path

import duckdb

import gen

RUN_TIME = datetime(2026, 1, 2, 8, 0, 0)  # pins output file names across passes
ITERATIVE_QUERIES = ("pagerank", "bpe_train")
SF = 0.01
SF_TABLES = ("lineitem", "documents")


def _log_failure(what: str) -> None:
    print(f"perfbench: {what} failed\n{traceback.format_exc()}", file=sys.stderr)


class MailingJob:
    name = "mailing_job"

    def __init__(self, work: Path, seed: int) -> None:
        from python_etl_mailing_automation_spark.config import PipelineConfig

        self.work = work
        self.inputs = gen.mailing_inputs(work / "in", seed)
        self.out = work / "out"
        self.state = work / "state.json"
        # The human cutoff stays at its default, 0 (copy-both mode), as in
        # the reference's production config.
        self.config = PipelineConfig(
            blocklist=self.inputs["blocklist"],
            priority_order=["DESLIGADO", "ATÉ 30", "SIM"],
            robot_time_slot_groups=self.inputs["slots"],
        )
        self.results: list = []  # per operation: (JobResult | None, digests)

    def run_pass(self, spark, tracer) -> None:
        from python_etl_mailing_automation_spark.pipeline import runner

        shutil.rmtree(self.out, ignore_errors=True)
        self.out.with_suffix(".zip").unlink(missing_ok=True)
        try:
            with tracer.span("pipeline.runner"):
                result = runner.run_mailing_job(
                    spark,
                    self.config,
                    input_dir=self.work / "in",
                    output_dir=self.out,
                    mailing_pattern="MAILING_NUCLEO_*.csv",
                    enrichment_pattern="Pontuacao*.csv",
                    regras_pattern="Tabulacoes*.csv",
                    state_path=self.state,
                    make_archive=True,
                    counted_report=True,
                    run_time=RUN_TIME,
                )
        except Exception:  # noqa: BLE001 - a failed operation is counted, not fatal
            _log_failure("run_mailing_job")
            result = None
        self.results.append([result, None])
        tracer.after_operation()

    def after_pass(self) -> None:
        """Hash the pass's output files (outside the timed pass)."""
        if self.results[-1][0] is not None:
            self.results[-1][1] = self._digests()

    def instrument(self, tracer) -> None:
        """Spans around every call ``run_mailing_job`` makes into another
        layer, bound by the names ``pipeline/runner.py`` imports."""
        from python_etl_mailing_automation_spark.pipeline import runner

        def files(rec: dict, result) -> None:
            paths = result if isinstance(result, list) else [result]
            rec["files"] = len(paths)
            rec["bytes"] = sum(p.stat().st_size for p in paths)

        def archive(rec: dict, path: Path) -> None:
            rec["bytes"] = path.stat().st_size

        for attr, span in (
            ("_load_input", "sources.load"),
            ("validate_required_columns", "schema.validate"),
            ("process_mailing", "pipeline.mailing"),
            ("apply_export_layout", "pipeline.export"),
            ("build_robot_output", "pipeline.robot"),
            ("route_by_time_slot", "pipeline.robot"),
            ("audit_no_blocked_status", "pipeline.audit"),
            ("detect_volume_outliers", "sources.state"),
            ("render_run_report", "pipeline.report"),
        ):
            tracer.wrap(runner, attr, span)
        tracer.wrap(runner.StateManager, "last_metrics", "sources.state")
        tracer.wrap(runner.StateManager, "save_success", "sources.state")
        tracer.wrap(runner, "write_partitioned_by_key", "sources.write", files)
        tracer.wrap(runner, "write_exact_csv", "sources.write", files)
        tracer.wrap(runner, "archive_run", "sources.archive", archive)

    def _digests(self) -> dict[str, str]:
        return {
            str(p.relative_to(self.out)): hashlib.sha256(p.read_bytes()).hexdigest()
            for p in sorted(self.out.rglob("*.csv"))
        }

    def expected(self) -> dict:
        """Counts and human debt recomputed by DuckDB from the generated CSVs
        (cutoff 0: every kept row goes to human, and to robot if it has a
        due date)."""
        blocked = ", ".join(f"'{b.strip().lower()}'" for b in self.config.blocklist)
        critical = ", ".join(f"'{s.upper()}'" for s in self.config.critical_statuses)
        csv_opts = "delim=';', header=true, all_varchar=true"
        sql = f"""
        WITH m AS (
          SELECT *, regexp_replace(ncpf, '\\.0$', '') AS cpf
          FROM read_csv('{self.work / 'in' / 'MAILING_NUCLEO_20260101.csv'}', {csv_opts})
        ), bad AS (
          SELECT lower(trim(k)) AS k FROM (
            SELECT regexp_replace(idcliente, '\\.0$', '') AS k
            FROM read_csv('{self.work / 'in' / 'Tabulacoes_retirar.csv'}', {csv_opts})
            WHERE upper(trim(status)) IN ({critical})
          ) GROUP BY k HAVING count(*) >= {self.config.critical_threshold}
        ), one AS (
          SELECT * FROM m WHERE lower(trim(cpf)) NOT IN (SELECT k FROM bad)
          QUALIFY row_number() OVER (
            PARTITION BY cpf
            ORDER BY coalesce(trim(nomecad) <> '', false) DESC, ucv ASC) = 1
        ), v AS (
          SELECT
            TRY_CAST(CASE WHEN contains(valor, ',')
                          THEN replace(replace(valor, '.', ''), ',', '.')
                          ELSE valor END AS DOUBLE) AS divida,
            coalesce(lower(trim(bloq)) IN ({blocked}), false) AS blocked,
            try_strptime(trim(dtvenc), '%d/%m/%Y') IS NOT NULL AS has_due
          FROM one
        )
        SELECT
          count(*) FILTER (WHERE NOT blocked) AS human,
          count(*) FILTER (WHERE NOT blocked AND has_due) AS robot,
          count(*) FILTER (WHERE blocked) AS rejected,
          coalesce(sum(round(divida * 100)) FILTER (WHERE NOT blocked), 0)::BIGINT
            AS human_debt_cents
        FROM v
        """
        con = duckdb.connect()
        try:
            row = con.sql(sql).fetchone()
        finally:
            con.close()
        return dict(zip(("human", "robot", "rejected", "human_debt_cents"), row))

    def check(self, spark) -> list[bool]:
        """Per-operation verdicts (True = correct output)."""
        from python_etl_mailing_automation_spark.pipeline.audit import audit_output_dir

        expected = self.expected()
        reference_digests = next((d for _, d in self.results if d is not None), None)
        verdicts = []
        for i, (result, digests) in enumerate(self.results):
            problems = []
            if result is None:
                problems.append("raised")
            else:
                try:
                    problems += self._file_problems(result, expected)
                except (OSError, KeyError, ValueError) as exc:
                    problems.append(f"unreadable output: {exc!r}")
                if digests != reference_digests:
                    problems.append("output digests differ from the first pass")
            if problems:
                print(f"perfbench: mailing_job pass {i}: {problems}", file=sys.stderr)
            verdicts.append(not problems)
        if any(verdicts):
            # The laudo re-reads the last pass's files; every good pass wrote
            # the same bytes (digests), so its verdict covers them all.
            leaks = [
                v for v in audit_output_dir(
                    spark, self.out, self.config.blocklist,
                    robot_markers=(self.config.robot_output_file_prefix,),
                )
                if not v.clean
            ]
            if leaks:
                print(f"perfbench: laudo found blocklisted values: {leaks}", file=sys.stderr)
                verdicts = [False] * len(verdicts)
        return verdicts

    def _file_problems(self, result, expected: dict) -> list[str]:
        def rows(path: Path, sep: str) -> list[dict]:
            with path.open(encoding="utf-8", newline="") as fh:
                return list(csv.DictReader(fh, delimiter=sep))

        human = [r for p in result.human_files for r in rows(p, ";")]
        robot = sum(len(rows(p, "|")) for p in result.robot_files)
        rejected = len(rows(result.rejected_file, ";"))
        debt = sum(round(float(r["valorDivida"].replace(",", ".")) * 100) for r in human)
        got = {"human": len(human), "robot": robot, "rejected": rejected, "human_debt_cents": debt}
        problems = []
        for key in ("human", "robot", "rejected"):
            if got[key] != result.metrics.get(key):
                problems.append(f"{key}: files {got[key]} != metrics {result.metrics.get(key)}")
        if result.metrics.get("audit_leaks") != 0:
            problems.append(f"audit_leaks={result.metrics.get('audit_leaks')}")
        if got != expected:
            problems.append(f"outputs {got} != duckdb {expected}")
        if result.archive is None or not result.archive.exists():
            problems.append("no archive")
        if result.rendered_report is None:
            problems.append("no process report")
        return problems


class IterativeQueries:
    name = "iterative_queries"

    def __init__(self, work: Path, seed: int) -> None:
        import __spark_entry__

        self.sf = work / "sf"
        self.inputs = gen.sf_tables(self.sf, seed, SF)
        self.order = list(ITERATIVE_QUERIES)
        random.Random(seed).shuffle(self.order)
        self.queries = __spark_entry__.queries()
        self.oracles = __spark_entry__.oracle_sql()
        self.results: list[tuple[str, bool]] = []  # per operation: (query, raised)

    def run_pass(self, spark, tracer) -> None:
        for name in self.order:
            try:
                with tracer.span(f"query.{name}"):
                    with tracer.span(f"query.{name}.build"):
                        df = self.queries[name](spark, str(self.sf))
                    with tracer.span(f"query.{name}.exec"):
                        df.write.format("noop").mode("overwrite").save()
                self.results.append((name, False))
            except Exception:  # noqa: BLE001 - a failed operation is counted, not fatal
                _log_failure(name)
                self.results.append((name, True))
            tracer.after_operation()

    def instrument(self, tracer) -> None:
        """Query spans are opened by :meth:`run_pass` itself."""

    def after_pass(self) -> None:
        """Nothing to record: the noop sink writes no output."""

    def check(self, spark) -> list[bool]:
        """Each query against its DuckDB oracle, compared exactly as
        ``tools/check_parity.py`` does; a wrong query fails every run of it."""
        from check_parity import compare

        con = duckdb.connect()
        wrong = set()
        try:
            for t in SF_TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.sf / t}.parquet')")
            for name in self.order:
                try:
                    problems = compare(
                        name,
                        self.queries[name](spark, str(self.sf)).toPandas(),
                        con.sql(self.oracles[name]).df(),
                    )
                except Exception:  # noqa: BLE001
                    _log_failure(f"{name} check")
                    problems = ["raised"]
                if problems:
                    print(f"perfbench: {name} differs from its oracle: {problems}", file=sys.stderr)
                    wrong.add(name)
        finally:
            con.close()
        return [not raised and name not in wrong for name, raised in self.results]


WORKLOADS = {w.name: w for w in (MailingJob, IterativeQueries)}
