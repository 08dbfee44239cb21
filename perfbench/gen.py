"""Seeded input generators for the benchmark workloads.

Everything here is a pure function of its arguments: the same seed
writes byte-identical files.  The program under test only ever sees the
files written here.

- :func:`mailing_inputs` writes the three CSVs ``run_mailing_job``
  discovers (mailing, Pontuação enrichment, Tabulações rules).
- :func:`sf_tables` writes the parquet tables the iterative queries of
  ``__spark_entry__.queries()`` read (``lineitem``, ``documents``).
"""

from __future__ import annotations

from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

PRODUCTS = ("EPB", "EMT", "ESE", "ETO", "EMS", "EAC", "EBO", "ERO")
BLOCKED = ("BLOQUEADO JUDICIAL", "PROCON", "ACORDO VIGENTE")
ALLOWED = ("LIBERADO", "EM ANALISE")
CRITICAL = ("CLIENTE FALECIDO", "NAO PERTENCE A UC")


# Mailing mix.  The reference's only production figures (SURVEY.md §6,
# from its ``state.json``): 252,263 mailing rows in, 81,669 human rows and
# 81,669 robot rows out, i.e. 67.6 % of the rows removed by the critical-
# status anti-join, the CPF dedup and the blocklist, with the human cutoff
# at 0 (copy-both mode: human = robot).  The critical and blocked shares
# below are chosen; the duplicate rate is then derived so that the
# expected share of rows kept equals the production share.
PRODUCTION_KEEP = 81_669 / 252_263
CPFS = 4_000                 # distinct CPFs in the mailing
CRITICAL_SHARE = 0.04        # CPFs with >= 3 critical tabulações (anti-join)
BLOCKED_SHARE = 0.12         # rows with a blocklisted ``bloq`` (side output)
# Mean extra rows per CPF (dedup work): kept/rows = (1-crit)(1-blocked)/(1+dup).
DUP_RATE = (1 - CRITICAL_SHARE) * (1 - BLOCKED_SHARE) / PRODUCTION_KEEP - 1
MISSING_NAME_SHARE = 0.15    # rows with no ``nomecad`` (dedup preference)
ENRICH_PER_DOC = 3.0         # mean Pontuação rows per document (list-agg)
N_PRODUCTS = 6               # human files written (write fan-out)
N_SLOTS = 2                  # robot time-slot files


def _money_br(cents: np.ndarray, rng: np.random.Generator) -> np.ndarray:
    """BR money strings: ``1234,56``, some with a ``1.234,56`` thousands dot."""
    units, frac = np.divmod(cents, 100)
    plain = np.char.add(np.char.add(units.astype(str), ","), np.char.zfill(frac.astype(str), 2))
    dotted = np.array([f"{u:,}".replace(",", ".") for u in units])
    dotted = np.char.add(np.char.add(dotted, ","), np.char.zfill(frac.astype(str), 2))
    return np.where(rng.random(len(cents)) < 0.3, dotted, plain)


def mailing_inputs(out_dir: Path, seed: int) -> dict:
    """Write ``MAILING_NUCLEO_*.csv``, ``Pontuacao_*.csv`` and
    ``Tabulacoes_*.csv`` (``;``-separated, UTF-8) into ``out_dir``.

    Returns the row and byte counts written, plus the pipeline config
    knobs the generated data was shaped for (products, slots, blocklist).
    """
    rng = np.random.default_rng(seed)
    out_dir.mkdir(parents=True, exist_ok=True)
    products = np.array(PRODUCTS[:N_PRODUCTS])

    cpf_ids = 10_000_000_000 + rng.choice(89_999_999_999, CPFS, replace=False)
    extra = rng.poisson(DUP_RATE, CPFS)
    row_cpf = np.repeat(cpf_ids, 1 + extra)
    n = len(row_cpf)
    rng.shuffle(row_cpf)
    cpf_str = row_cpf.astype(str)
    # Excel-style float artifacts on some ids: the pipeline strips ``.0``.
    cpf_str = np.where(rng.random(n) < 0.05, np.char.add(cpf_str, ".0"), cpf_str)

    names = np.char.add("Cliente ", rng.integers(0, 10**6, n).astype(str))
    names = np.where(rng.random(n) < MISSING_NAME_SHARE, "", names)
    bloq_roll = rng.random(n)
    bloq = np.where(
        bloq_roll < BLOCKED_SHARE,
        rng.choice(BLOCKED, n),
        np.where(bloq_roll < BLOCKED_SHARE + 0.1, rng.choice(ALLOWED, n), ""),
    )
    # Case/whitespace variants exercise the normalized blocklist match.
    bloq = np.where(rng.random(n) < 0.3, np.char.lower(bloq), bloq)
    due_days = rng.integers(0, 3 * 365, n)
    due = pd.Timestamp("2024-01-01") + pd.to_timedelta(due_days, unit="D")
    dtvenc = due.strftime("%d/%m/%Y").to_numpy()  # production: every kept row reaches the robot
    valor_cents = rng.lognormal(8.5, 1.3, n).astype(np.int64) + 100
    docs = np.char.add("d", (row_cpf % 10**9).astype(str))

    mailing = pd.DataFrame(
        {
            "empresa": rng.choice(products, n),
            "ucv": np.char.add("U", np.char.zfill(np.arange(n).astype(str), 9)),
            "nomecad": names,
            "ndoc": docs,
            "ncpf": cpf_str,
            "ano": 2026,
            "mes": rng.integers(1, 13, n),
            "liquido": _money_br(rng.integers(1_000, 500_000, n), rng),
            "loc": rng.choice(["NAT", "CGR", "MOS", "CAI", "PAR"], n),
            "sit": rng.choice(["LIGADO", "DESLIGADO"], n),
            "faixa": rng.choice(["Até 30", "Até 90", "Até 180", "Mais de 1 ano"], n),
            "iu12m": rng.choice(["SIM", "NÃO"], n),
            "valor": _money_br(valor_cents, rng),
            "bloq": bloq,
            "dtvenc": dtvenc,
            "totfat": rng.integers(1, 24, n),
            "venc_maior_1ano": rng.choice(["N", "S", ""], n),
            "codbarra": np.char.add("8", rng.integers(10**12, 10**13, n).astype(str)),
            "ind_telefone_1_valido": np.where(
                rng.random(n) < 0.5, np.char.add("(84) 9", rng.integers(10**7, 10**8, n).astype(str)), ""
            ),
        }
    )

    # Pontuação: several scored phones per document, some documents unknown
    # to the mailing, some junk phones.
    uniq_docs = np.unique(docs)
    per_doc = rng.poisson(ENRICH_PER_DOC, len(uniq_docs))
    e_docs = np.repeat(uniq_docs, per_doc)
    m = len(e_docs)
    e_docs = np.where(rng.random(m) < 0.05, np.char.add("x", e_docs), e_docs)
    phones = np.char.add("849", rng.integers(10**7, 10**8, m).astype(str))
    phones = np.where(rng.random(m) < 0.05, np.char.add(phones, ".0"), phones)
    phones = np.where(rng.random(m) < 0.02, "sem telefone", phones)
    enrichment = pd.DataFrame(
        {"documento": e_docs, "telefone": phones, "pontuacao": rng.integers(0, 1000, m)}
    )

    # Tabulações: CRITICAL_SHARE of the CPFs get 3-5 critical rows (at the
    # threshold of 3, so removed); as many again get 1-2 (kept); every
    # sampled CPF also gets some non-critical rows.
    n_removed = int(CRITICAL_SHARE * CPFS)
    tab_cpfs = rng.choice(cpf_ids, 2 * n_removed, replace=False)
    n_crit = np.concatenate([rng.integers(3, 6, n_removed), rng.integers(1, 3, n_removed)])
    n_other = rng.integers(0, 3, len(tab_cpfs))
    t_ids = np.concatenate([np.repeat(tab_cpfs, n_crit), np.repeat(tab_cpfs, n_other)])
    statuses = np.concatenate(
        [
            rng.choice(list(CRITICAL) + [s.lower() for s in CRITICAL], int(n_crit.sum())),
            rng.choice(["ACORDO", "SEM CONTATO", "RECADO"], int(n_other.sum())),
        ]
    )
    regras = pd.DataFrame({"idcliente": t_ids.astype(str), "status": statuses})

    files = {
        "mailing": (out_dir / "MAILING_NUCLEO_20260101.csv", mailing),
        "enrichment": (out_dir / "Pontuacao_fones.csv", enrichment),
        "regras": (out_dir / "Tabulacoes_retirar.csv", regras),
    }
    stats = {}
    for key, (path, frame) in files.items():
        frame.to_csv(path, sep=";", index=False, encoding="utf-8")
        stats[key] = {"rows": len(frame), "bytes": path.stat().st_size}
    stats["products"] = [str(p) for p in products]
    stats["slots"] = {
        f"{8 + 2 * i:02d}HRS": [str(p) for p in products[i :: N_SLOTS]]
        for i in range(N_SLOTS)
    }
    stats["blocklist"] = list(BLOCKED)
    return stats


def _write(out_dir: Path, name: str, columns: dict) -> dict:
    path = out_dir / f"{name}.parquet"
    pq.write_table(pa.table(columns), path)
    return {"rows": len(next(iter(columns.values()))), "bytes": path.stat().st_size}


def sf_tables(out_dir: Path, seed: int, sf: float = 0.01) -> dict:
    """The two tables the iterative queries read: ``lineitem`` (the
    co-purchase graph of ``pagerank``) and ``documents`` (``bpe_train``).

    Row counts and key domains follow the reference scale factors
    (``lineitem`` = 6M × sf rows over 1.5M × sf orders and 200k × sf
    parts; ``documents`` = 50k × sf).  Returns rows and bytes per table.
    """
    rng = np.random.default_rng(seed)
    out_dir.mkdir(parents=True, exist_ok=True)
    n_ord, n_part, n_li, n_doc = (int(k * sf) for k in (1_500_000, 200_000, 6_000_000, 50_000))
    rows = {
        "lineitem": _write(out_dir, "lineitem", {
            "l_orderkey": rng.integers(0, n_ord, n_li),
            "l_partkey": rng.integers(0, n_part, n_li),
        }),
    }
    vocab = np.array(
        "spark window merge table column vector stream value data small join filter big "
        "group hash customer sort order slow line part fast the row agg key query a scan batch".split()
    )
    lengths = rng.integers(10, 101, n_doc)
    texts = [" ".join(rng.choice(vocab, k)) for k in lengths]
    # Near-duplicate documents: a copy of another plus a marker token.
    for i in rng.choice(n_doc, n_doc // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, n_doc))] + " dup"
    langs = rng.choice(["en", "en", "de", "es", "fr", "zh"], n_doc)
    rows["documents"] = _write(out_dir, "documents", {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": langs,
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    return rows
