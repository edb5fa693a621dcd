#!/usr/bin/env python3
"""Seeded generator for the appointment ETL inputs (FIXTURES.md §A1-A3).

Writes, into an output directory:

- ``base.csv``: the 32-column appointment base, ``;``-separated UTF-8,
  day-first ``dd/MM/yyyy HH:mm`` timestamps;
- ``prices.txt``: the price table, tab-separated cp1252, ``R$`` values with
  ``.`` thousands and ``,`` decimals, keys spelled differently from the base
  (case, accents, spacing); about 5% of (procedure, insurer) pairs are left
  out so they stay unmatched;
- ``occupancy.csv``: the occupancy side table, several rows per doctor under
  differently spelled names, one doctor with 0 slots and some doctors absent;
- ``tally.json``: what a correct run must report, derived from how each row
  was built: row count, consolidated-status counts, confirmation counts,
  realized and potential revenue in cents, and per-day totals.

The same (rows, seed) always gives byte-identical files.

Usage: python3 gen_etl.py <outDir> <rows> <seed>
"""
import datetime as dt
import json
import os
import random
import sys

AS_OF = "2025-01-01 00:00:00"
# times are whole minutes since _EPOCH; strings come from lookup tables
_EPOCH = dt.date(1935, 1, 1)
_N_DAYS = (dt.date(2026, 1, 1) - _EPOCH).days
_DAY_BR = [(_EPOCH + dt.timedelta(days=d)).strftime("%d/%m/%Y")
           for d in range(_N_DAYS)]
_DAY_ISO = [(_EPOCH + dt.timedelta(days=d)).isoformat()
            for d in range(_N_DAYS)]
_HM = [f"{m // 60:02d}:{m % 60:02d}" for m in range(1440)]
_DAY = 1440
_AS_OF = (dt.date(2025, 1, 1) - _EPOCH).days * _DAY
_FIRST_DAY = (dt.date(2023, 7, 1) - _EPOCH).days
_DAYS = 730  # about two years of appointment dates around the anchor

COLUMNS = [
    "Unidade", "Procedimento", "ID_Medico_Anon", "ID_Paciente_Anon",
    "Convenio", "Valor", "Agendamento Inicio", "Agendamento Final",
    "Data_Marcacao", "Status_Marcacao", "Usuario_Responsavel",
    "Categoria_Servico", "Bloqueio", "Pacientes_Sexo",
    "Pacientes_DataNascimento", "Pacientes_Indicacao",
    "Pacientes_DataRegistro", "Pacientes_UsuarioRegistrou",
    "Confirmacoes_Data_Confirmacao", "Confirmacoes_Status_Confirmacao",
    "Confirmacoes_Usuario_Confirmou", "Confirmacoes_Status_Execucao",
    "Confirmacoes_DataEHora_Atendimento", "Atendimentos_DataEHora_Chegada",
    "Atendimentos_DataEHora_Registro", "Atendimentos_DataEHora_Atendimento",
    "Atendimentos_DataEHora_Final", "Atendimentos_Status_Atendimento",
    "Cancelamentos_DataDeCancelamento", "Cancelamentos_Usuario_Cancelou",
    "Cancelamentos_Status_Execucao", "Cancelamentos_DataEHora_Atendimento",
]

UNITS = ["Unidade Centro", "Unidade Sul", "Unidade Norte", "Unidade Leste",
         "Unidade São José"]
_PROC_KINDS = ["Consulta", "Retorno", "Exame", "Ultrassonografia",
               "Avaliação"]
_SPECIALTIES = ["Clínica", "Cardiológica", "Dermatológica", "Pediátrica",
                "Ortopédica", "Ginecológica", "Oftalmológica", "Neurológica"]
PROCEDURES = [f"{k} {s}" for k in _PROC_KINDS for s in _SPECIALTIES]
INSURERS = ["Unimed", "Bradesco Saúde", "Amil", "SulAmérica", "Particular",
            "Hapvida", "NotreDame Intermédica", "Porto Seguro", "Cassi",
            "Geap", "Golden Cross", "Mediservice"]
CATEGORIES = ["Rotina", "Urgência", "Retorno", "Procedimento"]
REFERRALS = ["Google", "Instagram", "Indicação Médica", "Amigos", "Convênio"]
USERS = ["recepcao01", "recepcao02", "callcenter", "app", "portal"]
_FIRST = ["José", "João", "Antônio", "Márcia", "Lúcia", "Fábio", "Inês",
          "Sérgio", "Ana", "Paulo", "Cláudia", "Rogério"]
_LAST = ["Conceição", "Gonçalves", "Araújo", "Simões", "Brandão", "Lima",
         "Fernandes", "Sá", "Azevedo", "Magalhães"]
N_DOCTORS = 300

_PLAIN = str.maketrans("áàâãéêíóôõúüçÁÀÂÃÉÊÍÓÔÕÚÜÇ",
                       "aaaaeeiooouucAAAAEEIOOOUUC")


def _variant(rng, name):
    """A spelling of ``name`` that normalize_key maps to the same key."""
    r = rng.random()
    if r < 0.25:
        return name.upper().translate(_PLAIN)
    if r < 0.5:
        return name.lower()
    if r < 0.7:
        return "  " + name.replace(" ", "  ") + " "
    return name


def _ts(m):
    return _DAY_BR[m // _DAY] + " " + _HM[m % _DAY]


def _brl(cents):
    reais, c = divmod(cents, 100)
    return "R$ " + f"{reais:,d}".replace(",", ".") + f",{c:02d}"


def generate(out_dir, rows, seed):
    rng = random.Random(seed)
    os.makedirs(out_dir, exist_ok=True)
    doctors = [f"{'Dra.' if i % 2 else 'Dr.'} {rng.choice(_FIRST)} "
               f"{rng.choice(_LAST)} {i:03d}" for i in range(N_DOCTORS)]

    # price table: every pair except ~5%, which stay unmatched (Valor 0)
    price = {}
    lines = ["Procedimento\tConvenio\tValor_Convenio"]
    for p in PROCEDURES:
        for c in INSURERS:
            if rng.random() < 0.05:
                continue
            cents = rng.randrange(4_000, 260_000)
            price[(p, c)] = cents
            lines.append(f"{_variant(rng, p)}\t{_variant(rng, c)}\t"
                         f"{_brl(cents)}")
    with open(os.path.join(out_dir, "prices.txt"), "wb") as f:
        f.write(("\n".join(lines) + "\n").encode("cp1252"))

    # occupancy: 1-3 rows per doctor, spelled differently; the first doctor
    # has 0 slots (division guard) and every 10th doctor has no row at all
    occ = ["Nome_Medico;qtde_horarios_disponiveis"]
    for i, d in enumerate(doctors):
        if i % 10 == 9:
            continue
        for _ in range(rng.randint(1, 3)):
            occ.append(f"{_variant(rng, d).strip()};"
                       f"{0 if i == 0 else rng.randint(5, 120)}")
    with open(os.path.join(out_dir, "occupancy.csv"), "w",
              encoding="utf-8", newline="\n") as f:
        f.write("\n".join(occ) + "\n")

    status_counts = {s: 0 for s in ("ATENDIDO", "NO-SHOW",
                                    "CANCELAMENTO_TARDIO", "CANCELADO",
                                    "AGENDADO")}
    confirmed = noshow_confirmed = realized = potential = 0
    per_day = {}
    out = [";".join(COLUMNS)]
    for _ in range(rows):
        proc = rng.choice(PROCEDURES)
        ins = rng.choice(INSURERS)
        start = ((_FIRST_DAY + rng.randrange(_DAYS)) * _DAY
                 + rng.randint(5, 21) * 60 + rng.choice((0, 15, 30, 45)))
        booked = start - rng.randint(1, 60) * _DAY - rng.randrange(600)
        arrival = attended = final = cancel = None
        r = rng.random()
        if start < _AS_OF:
            if r < 0.65:
                status = "ATENDIDO"
                arrival = start - rng.randrange(0, 40)
                attended = start + rng.randrange(-10, 45)
                if attended < arrival:
                    attended = arrival + 5
                final = attended + rng.randrange(10, 70)
            else:
                # cancelled past appointments with no arrival stay NO-SHOW:
                # NO-SHOW outranks the cancellation statuses
                status = "NO-SHOW"
                if r >= 0.85:
                    cancel = start - rng.randrange(-600, 6000)
        elif r < 0.6:
            status = "AGENDADO"
        elif r < 0.8:
            status = "CANCELADO"
            cancel = start - rng.randrange(24 * 60, 30 * 24 * 60)
        else:
            status = "CANCELAMENTO_TARDIO"
            cancel = start - rng.randrange(1, 24 * 60)
        conf = rng.random() < 0.6
        cents = price.get((proc, ins), 0)

        status_counts[status] += 1
        potential += cents
        if status == "ATENDIDO":
            realized += cents
        if conf:
            confirmed += 1
            if status == "NO-SHOW":
                noshow_confirmed += 1
        day = per_day.setdefault(_DAY_ISO[start // _DAY], [0, 0, 0, 0])
        day[0] += 1
        if status == "ATENDIDO":
            day[1] += 1
        elif status == "NO-SHOW":
            day[2] += 1
        elif status in ("CANCELADO", "CANCELAMENTO_TARDIO"):
            day[3] += 1

        sex = rng.random()
        birth = rng.random()
        registered = booked if rng.random() < 0.3 else \
            booked - rng.randint(1, 2000) * _DAY
        out.append(";".join((
            rng.choice(UNITS),
            _variant(rng, proc) if rng.random() < 0.2 else proc,
            rng.choice(doctors),
            f"{rng.getrandbits(128):032x}",
            _variant(rng, ins) if rng.random() < 0.2 else ins,
            f"{rng.randrange(100, 99_999) / 100:.2f}".replace(".", ","),
            _ts(start),
            _ts(start + 30),
            _ts(booked),
            rng.choice("AECB"),
            rng.choice(USERS),
            rng.choice(CATEGORIES),
            "N" if rng.random() < 0.95 else "S",
            "" if sex < 0.05 else ("F" if sex < 0.55 else "M"),
            "" if birth < 0.05 else _DAY_BR[int(birth * 32000)],
            "" if rng.random() < 0.1 else rng.choice(REFERRALS),
            _ts(registered),
            rng.choice(USERS),
            _ts(booked + rng.randrange(60, 1440)) if conf else "",
            "C" if conf else rng.choice("AN"),
            rng.choice(USERS) if conf else "",
            "S" if conf else "",
            _ts(start) if conf else "",
            _ts(arrival) if arrival is not None else "",
            _ts(arrival + 2) if arrival is not None else "",
            _ts(attended) if attended is not None else "",
            _ts(final) if final is not None else "",
            "Finalizado" if attended is not None else "",
            _ts(cancel) if cancel is not None else "",
            rng.choice(USERS) if cancel is not None else "",
            "S" if cancel is not None else "",
            _ts(start) if cancel is not None else "",
        )))
    with open(os.path.join(out_dir, "base.csv"), "w", encoding="utf-8",
              newline="\n") as f:
        f.write("\n".join(out) + "\n")

    tally = {
        "rows": rows,
        "seed": seed,
        "as_of": AS_OF,
        "status": status_counts,
        "noshow": status_counts["NO-SHOW"],
        "confirmed": confirmed,
        "noshow_confirmed": noshow_confirmed,
        "cancelled": status_counts["CANCELADO"]
        + status_counts["CANCELAMENTO_TARDIO"],
        "realized_cents": realized,
        "potential_cents": potential,
        "per_day": dict(sorted(per_day.items())),
    }
    with open(os.path.join(out_dir, "tally.json"), "w") as f:
        json.dump(tally, f, sort_keys=True)
    return tally


if __name__ == "__main__":
    if len(sys.argv) != 4:
        sys.exit(__doc__)
    t = generate(sys.argv[1], int(sys.argv[2]), int(sys.argv[3]))
    print(json.dumps({k: v for k, v in t.items() if k != "per_day"}))
