"""Correctness checks run by the benchmark after its timed runs.

ETL: the ten sinks exist with their contract headers, the fact export keeps
every input row, and the console KPI summary, the confirmation KPIs and the
per-day attendance agree with the generator's tally.

Ops: every query's saved result is compared with its DuckDB oracle through
``tools/parity.py``; a query without an oracle must at least return rows.
"""
import contextlib
import glob
import importlib.util
import io
import json
import os
import re

# Column contract of the ten BR-CSV sinks, in order (etl_pipeline.py:464-688).
SINK_HEADERS = {
    "base_tratada_completa": None,  # the input columns plus derived ones
    "agenda_comparecimento": "Data_Agendamento;Total_Agendamentos;Atendimentos;"
    "No_Shows;Cancelamentos;Taxa_Atendimento;Taxa_No_Show;Taxa_Cancelamento",
    "status_por_turno": "Turno;Total;Atendimentos;No_Shows;Cancelamentos;"
    "Taxa_No_Show",
    "perfil_noshow": "Dimensao;Valor;No_Show;Realizado;Cancelado;Total;"
    "Taxa_No_Show",
    "financeiro": "Unidade;Procedimento;Total_Agendamentos;Atendimentos;"
    "No_Shows;Receita_Realizada;Receita_Perdida_No_Show;"
    "Receita_Perdida_Cancelamento;Receita_Potencial;Ticket_Medio",
    "atravessamento": "Unidade;ID_Medico_Anon;Atendimentos;"
    "Tempo_Medio_Total_Min;Tempo_Medio_Espera_Min;Atraso_Medio_Min;"
    "Pontuais;Taxa_Pontualidade",
    "fluxo_pacientes_agregado": "Tipo_Paciente;Quantidade;Percentual",
    "indicadores_confirmacao": "Indicador;Quantidade;Percentual",
    "qualidade_dados": "Coluna;Nulos;Preenchidos;Taxa_Preenchimento",
    "perfil_agenda": "Unidade;ID_Medico_Anon;Procedimento;Categoria_Servico;"
    "Agendamentos;Atendimentos;No_Shows;Receita;Horarios_Disponiveis;"
    "Taxa_Realizacao;Taxa_Ocupacao",
}
DERIVED_COLUMNS = ["Flag_Cancelado", "Flag_Confirmado", "Flag_Atendido",
                   "Flag_Compareceu", "Antecedencia_Horas", "Flag_No_Show",
                   "Flag_Cancelamento_Tardio", "Status_Consolidado",
                   "Status_Simples", "Faixa_Etaria", "Turno", "is_novo",
                   "Data_Agendamento", "Valor"]


def _sink_lines(out_dir, sink):
    parts = sorted(glob.glob(os.path.join(out_dir, sink, "part-*.csv")))
    if len(parts) != 1:
        raise ValueError(f"{sink}: expected one CSV part, found {len(parts)}")
    with open(parts[0], encoding="utf-8") as f:
        return f.read().splitlines()


def _cents(brl):
    """'R$ 1.234,56' -> 123456"""
    return int(brl.replace("R$", "").strip().replace(".", "").replace(",", ""))


def parse_console(text):
    """The KPI figures EtlMain.run prints (Reports.formatSummary)."""
    m = re.search(r"Agendamentos: (\d+)\nNo-shows: (\d+) .*\n"
                  r"Receita realizada: (R\$ [\d.,-]+)\n"
                  r"Receita potencial: (R\$ [\d.,-]+)", text)
    if not m:
        return None
    return {"rows": int(m.group(1)), "noshow": int(m.group(2)),
            "realized_cents": _cents(m.group(3)),
            "potential_cents": _cents(m.group(4))}


def check_console(text, tally):
    got = parse_console(text)
    if got is None:
        return [f"console summary not found in {text[-200:]!r}"]
    return [f"console {k}: {got[k]} != {tally[k]}"
            for k in got if got[k] != tally[k]]


def check_etl(out_dir, tally):
    """Problems found in one EtlMain.run output directory (empty if none)."""
    problems = []
    lines = {}
    for sink, header in SINK_HEADERS.items():
        try:
            lines[sink] = _sink_lines(out_dir, sink)
        except (OSError, ValueError) as e:
            problems.append(str(e))
            continue
        got = lines[sink][0] if lines[sink] else ""
        if header is None:
            missing = [c for c in DERIVED_COLUMNS if c not in got.split(";")]
            if missing or any(c.startswith("key_") for c in got.split(";")):
                problems.append(f"{sink}: header {got!r} lacks {missing}")
        elif got != header:
            problems.append(f"{sink}: header {got!r} != {header!r}")
    if problems:
        return problems

    n = len(lines["base_tratada_completa"]) - 1
    if n != tally["rows"]:
        problems.append(f"base_tratada_completa: {n} rows != {tally['rows']}")

    kpis = {}
    for row in lines["indicadores_confirmacao"][1:]:
        name, qty, _ = row.split(";")
        kpis[name] = int(qty)
    want = {"TOTAL_AGENDAMENTOS": tally["rows"],
            "CONFIRMADOS": tally["confirmed"],
            "ATENDIDOS": tally["status"]["ATENDIDO"],
            "NO_SHOWS": tally["noshow"],
            "NO_SHOWS_CONFIRMADOS": tally["noshow_confirmed"],
            "CANCELADOS": tally["cancelled"]}
    problems += [f"indicadores_confirmacao {k}: {kpis.get(k)} != {v}"
                 for k, v in want.items() if kpis.get(k) != v]

    days = {}
    for row in lines["agenda_comparecimento"][1:]:
        f = row.split(";")
        days[f[0]] = [int(x) for x in f[1:5]]
    if days != tally["per_day"]:
        bad = sorted(d for d in set(days) | set(tally["per_day"])
                     if days.get(d) != tally["per_day"].get(d))
        problems.append(f"agenda_comparecimento: {len(bad)} days differ, "
                        f"first {bad[:3]}")
    return problems


def _load_parity(root):
    spec = importlib.util.spec_from_file_location(
        "parity", os.path.join(root, "tools", "parity.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def check_ops(root, data_dir, out_dir, queries):
    """{query: problem} for every query whose saved result is wrong."""
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracles = json.load(f)
    problems = {}
    if oracles:
        parity = _load_parity(root)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            parity.main(data_dir, out_dir)
        for line in buf.getvalue().splitlines():
            if line.startswith("FAIL "):
                name, _, why = line[5:].partition(": ")
                problems[name] = why
    import duckdb
    con = duckdb.connect()
    for q in queries:
        if q in oracles or q in problems:
            continue
        files = glob.glob(os.path.join(out_dir, q, "*.parquet"))
        n = con.execute("SELECT count(*) FROM read_parquet(?)",
                        [files]).fetchone()[0] if files else 0
        if n == 0:
            problems[q] = "no oracle and no rows"
    return problems
