"""The per-stage process report and its rendering (SURVEY.md §3.4).

Mirrors the reference's ``ExecutionReporter`` (logger_setup.py:27-77),
which appends ``{name, initial, removed, final, message}`` per operator
(processing_pipeline.py:313-347) and renders a fixed-width stage table
(initial row, then removed/remaining per stage), attention points, and
the run-over-run human/robot volume comparison.

In Spark, counting a stage forces its materialization. The counts here
are ``DataFrame.observe`` row counts instead: each stage boundary carries
an :class:`~pyspark.sql.Observation` that the run's write actions fill
in as they scan the stage, so the report costs no Spark job. The report
is built only after those actions have run; emitting it to a logger is
the caller's choice.
"""

from __future__ import annotations

import time
from collections.abc import Sequence
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import Observation

#: Stage name the reference treats as the initial-count row
#: (logger_setup.py:41).
LOAD_STAGE = "Carregamento de Dados"


@dataclass
class StageReport:
    name: str
    initial: int
    final: int
    message: str = ""

    @property
    def removed(self) -> int:
        return self.initial - self.final


@dataclass
class ProcessReport:
    stages: list[StageReport] = field(default_factory=list)


#: How long :func:`observed_counts` waits for an observation's metrics.
#: ``Observation.get`` blocks forever when no action ever ran the observed
#: frame; a bounded wait turns that bug into an error instead of a hang.
_OBSERVATION_WAIT_S = 60.0


def observed_counts(obs: Observation, *names: str) -> list[int]:
    """The count metrics ``names`` of ``obs``, once an action has scanned
    its frame.

    The metrics are delivered by a query listener shortly after the action
    returns, so wait for them, but at most :data:`_OBSERVATION_WAIT_S`,
    then raise instead of hanging. When a stage below the observed node
    comes out empty, adaptive execution runs no partition through it and
    delivers an empty row, which ``Observation.get`` cannot convert; for
    counts it means zero rows.
    """
    # The one use of JVM handles in the package: the JVM Observation's
    # ``future()`` (to wait without blocking forever) and ``getRow()``
    # (which ``Observation.get`` itself calls), checked on Spark 4.1.2 and
    # hence the ``pyspark>=4.1`` floor in pyproject.toml. Spark Connect's
    # Observation has no ``_jo``; this path needs a classic session.
    deadline = time.monotonic() + _OBSERVATION_WAIT_S
    while not obs._jo.future().isCompleted():
        if time.monotonic() > deadline:
            raise RuntimeError(
                "observed metrics never arrived: no action scanned the observed frame"
            )
        time.sleep(0.005)
    if obs._jo.getRow().length() == 0:
        return [0] * len(names)
    metrics = obs.get
    return [metrics[n] for n in names]


def process_report(stages: Sequence[tuple[str, Observation, str]]) -> ProcessReport:
    """Build the report from ``(stage name, row-count observation,
    message)`` triples in pipeline order; a stage's ``initial`` is the
    previous stage's ``final``. Call only after the actions that scan the
    observed frames have run."""
    report = ProcessReport()
    prev: int | None = None
    for name, obs, message in stages:
        (n,) = observed_counts(obs, "n")
        report.stages.append(
            StageReport(name=name, initial=n if prev is None else prev, final=n, message=message)
        )
        prev = n
    return report


def _volume_line(label: str, current: Any, previous: Any) -> str:
    """One outlier-analysis line (logger_setup.py:52-73)."""
    prev = previous or 0
    cur = current or 0
    if prev <= 0:
        return f"- Arquivos {label}: Não há dados da última execução para comparar."
    pct = (cur - prev) / prev * 100.0
    direction = "a mais" if pct >= 0 else "a menos"
    return (
        f"- Arquivos {label}: Gerado {abs(pct):.2f}% {direction} de registros "
        f"que na última execução ({cur:,} vs {prev:,})."
    )


def render_run_report(
    report: ProcessReport,
    *,
    current_metrics: dict[str, Any] | None = None,
    last_metrics: dict[str, Any] | None = None,
    attention_points: Sequence[str] = (),
) -> str:
    """Render the reference's final execution report as one string.

    Layout parity with logger_setup.py:29-45: header rule, optional
    attention block, the results table (40/12/12-wide columns, thousands
    separators), and the outlier analysis comparing human/robot volumes
    against the previous successful run.
    """
    lines: list[str] = ["", "_" * 80, "RELATÓRIO DE EXECUÇÃO DA AUTOMAÇÃO"]

    if attention_points:
        lines.append("=" * 25 + " PONTOS DE ATENÇÃO " + "=" * 25)
        lines.extend(f"- {p}" for p in attention_points)

    lines.append("=" * 25 + " TABELA DE RESULTADOS " + "=" * 25)
    lines.append(
        f"| {'ETAPA DE PROCESSAMENTO':<40} | {'REMOVIDOS':>12} | {'RESTANTES':>12} |"
    )
    lines.append(f"| {'-' * 40} | {'-' * 12} | {'-' * 12} |")

    stages = report.stages
    initial = next((s for s in stages if s.name == LOAD_STAGE), None)
    if initial is not None:
        lines.append(
            f"| {'Registros Iniciais':<40} | {'-':>12} | {initial.initial:>12,} |"
        )
    for s in stages:
        if s is initial:
            continue
        lines.append(f"| {s.name:<40} | {s.removed:>12,} | {s.final:>12,} |")

    lines.append("=" * 25 + " ANÁLISE DE OUTLIERS " + "=" * 25)
    if not last_metrics:
        lines.append(
            "- Esta é a primeira execução com métricas, não há dados para comparação."
        )
    else:
        current_metrics = current_metrics or {}
        lines.append(
            _volume_line("HUMANOS", current_metrics.get("human"), last_metrics.get("human"))
        )
        lines.append(
            _volume_line("ROBÔ", current_metrics.get("robot"), last_metrics.get("robot"))
        )
    return "\n".join(lines)
