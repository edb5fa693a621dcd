"""Tests of the benchmark's own parts: the seeded generator and the
correctness checks (a perturbed ETL output and a wrong query result must
both fail). No Spark needed.

Run: python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import os
import shutil
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen_etl  # noqa: E402


def _read(path, mode="rb"):
    with open(path, mode) as f:
        return f.read()


def write_etl_output(out_dir, tally):
    """A minimal output directory that a correct EtlMain.run over `tally`'s
    inputs would pass: every sink with its header, the fact export with
    one line per input row, and the totals the check compares."""
    base_header = ";".join(gen_etl.COLUMNS[:5] + check.DERIVED_COLUMNS)
    bodies = {s: [] for s in check.SINK_HEADERS}
    bodies["base_tratada_completa"] = ["x"] * tally["rows"]
    bodies["indicadores_confirmacao"] = [
        f"{k};{v};0,00" for k, v in (
            ("ATENDIDOS", tally["status"]["ATENDIDO"]),
            ("CANCELADOS", tally["cancelled"]),
            ("CONFIRMADOS", tally["confirmed"]),
            ("NO_SHOWS", tally["noshow"]),
            ("NO_SHOWS_CONFIRMADOS", tally["noshow_confirmed"]),
            ("TOTAL_AGENDAMENTOS", tally["rows"]))]
    bodies["agenda_comparecimento"] = [
        ";".join([d] + [str(x) for x in v] + ["0,00"] * 3)
        for d, v in tally["per_day"].items()]
    for sink, header in check.SINK_HEADERS.items():
        os.makedirs(os.path.join(out_dir, sink))
        with open(os.path.join(out_dir, sink, "part-00000-x.csv"), "w",
                  encoding="utf-8") as f:
            f.write("\n".join([header or base_header] + bodies[sink]) + "\n")


def console_for(tally):
    return ("=== RESUMO ===\n"
            f"Agendamentos: {tally['rows']}\n"
            f"No-shows: {tally['noshow']} (12,34%)\n"
            f"Receita realizada: {gen_etl._brl(tally['realized_cents'])}\n"
            f"Receita potencial: {gen_etl._brl(tally['potential_cents'])}\n")


class GeneratorTest(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.mkdtemp()

    def tearDown(self):
        shutil.rmtree(self.tmp)

    def gen(self, name, rows, seed):
        d = os.path.join(self.tmp, name)
        return d, gen_etl.generate(d, rows, seed)

    def test_same_seed_same_bytes(self):
        a, _ = self.gen("a", 800, 5)
        b, _ = self.gen("b", 800, 5)
        c, _ = self.gen("c", 800, 6)
        for f in ("base.csv", "prices.txt", "occupancy.csv", "tally.json"):
            self.assertEqual(_read(os.path.join(a, f)),
                             _read(os.path.join(b, f)), f)
        self.assertNotEqual(_read(os.path.join(a, "base.csv")),
                            _read(os.path.join(c, "base.csv")))

    def test_covers_the_fixture_cases(self):
        d, t = self.gen("a", 3000, 7)
        self.assertTrue(all(n > 0 for n in t["status"].values()), t["status"])
        self.assertEqual(sum(t["status"].values()), 3000)
        rows = [r.split(";") for r in
                _read(os.path.join(d, "base.csv"), "r").splitlines()]
        head, body = rows[0], rows[1:]
        self.assertEqual(len(head), 32)
        col = {c: i for i, c in enumerate(head)}
        self.assertTrue(any(r[col["Pacientes_Sexo"]] == "" for r in body))
        self.assertTrue(any(r[col["Pacientes_DataNascimento"]] == ""
                            for r in body))
        # cancelled past appointment with no arrival: counted as NO-SHOW
        self.assertTrue(any(r[col["Cancelamentos_DataDeCancelamento"]] and
                            not r[col["Atendimentos_DataEHora_Chegada"]] and
                            r[col["Agendamento Inicio"]][6:10] < "2025"
                            for r in body))
        self.assertTrue(any("í" in r[col["Procedimento"]] for r in body))
        prices = _read(os.path.join(d, "prices.txt")).decode("cp1252")
        n_pairs = len(gen_etl.PROCEDURES) * len(gen_etl.INSURERS)
        self.assertLess(len(prices.splitlines()) - 1, n_pairs)
        self.assertIn("R$ ", prices)
        self.assertTrue(t["realized_cents"] < t["potential_cents"])
        occ = _read(os.path.join(d, "occupancy.csv"), "r").splitlines()
        self.assertTrue(any(line.endswith(";0") for line in occ[1:]))


class EtlCheckTest(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.mkdtemp()
        self.tally = gen_etl.generate(os.path.join(self.tmp, "in"), 1500, 3)
        self.out = os.path.join(self.tmp, "out")
        write_etl_output(self.out, self.tally)

    def tearDown(self):
        shutil.rmtree(self.tmp)

    def edit(self, sink, fn):
        path = os.path.join(self.out, sink, "part-00000-x.csv")
        lines = _read(path, "r").splitlines()
        with open(path, "w", encoding="utf-8") as f:
            f.write("\n".join(fn(lines)) + "\n")

    def test_correct_output_passes(self):
        self.assertEqual(check.check_etl(self.out, self.tally), [])
        self.assertEqual(check.check_console(console_for(self.tally),
                                             self.tally), [])

    def test_dropped_fact_row_fails(self):
        self.edit("base_tratada_completa", lambda ls: ls[:-1])
        self.assertTrue(check.check_etl(self.out, self.tally))

    def test_wrong_kpi_fails(self):
        self.edit("indicadores_confirmacao", lambda ls: [
            ls[0]] + [l.replace("CONFIRMADOS;", "CONFIRMADOS;1")
                      if l.startswith("CONFIRMADOS;") else l for l in ls[1:]])
        self.assertTrue(check.check_etl(self.out, self.tally))

    def test_wrong_day_fails(self):
        def bump(ls):
            f = ls[1].split(";")
            f[2] = str(int(f[2]) + 1)
            return [ls[0], ";".join(f)] + ls[2:]
        self.edit("agenda_comparecimento", bump)
        self.assertTrue(check.check_etl(self.out, self.tally))

    def test_changed_header_fails(self):
        self.edit("financeiro", lambda ls: [ls[0].replace(";", ",")] + ls[1:])
        self.assertTrue(check.check_etl(self.out, self.tally))

    def test_missing_sink_fails(self):
        shutil.rmtree(os.path.join(self.out, "perfil_agenda"))
        self.assertTrue(check.check_etl(self.out, self.tally))

    def test_wrong_console_fails(self):
        t = dict(self.tally, realized_cents=self.tally["realized_cents"] + 1)
        self.assertTrue(check.check_console(console_for(t), self.tally))


class OpsCheckTest(unittest.TestCase):
    SQL = ("SELECT r_regionkey % 2 AS k, count(*) AS n FROM region "
           "GROUP BY 1")

    def setUp(self):
        import duckdb
        self.tmp = tempfile.mkdtemp()
        self.data = os.path.join(self.tmp, "data")
        self.out = os.path.join(self.tmp, "out")
        os.makedirs(self.data)
        os.makedirs(os.path.join(self.out, "q_ok"))
        self.con = duckdb.connect()
        self.con.execute(
            "COPY (SELECT range::INTEGER AS r_regionkey FROM range(5)) "
            f"TO '{self.data}/region.parquet' (FORMAT parquet)")
        with open(os.path.join(self.out, "oracle_sql.json"), "w") as f:
            json.dump({"q_ok": self.SQL}, f)

    def tearDown(self):
        self.con.close()
        shutil.rmtree(self.tmp)

    def result(self, sql):
        self.con.execute(f"CREATE OR REPLACE VIEW region AS SELECT * FROM "
                         f"read_parquet('{self.data}/region.parquet')")
        self.con.execute(f"COPY ({sql}) TO '{self.out}/q_ok/part-0.parquet' "
                         "(FORMAT parquet)")

    def test_matching_result_passes(self):
        self.result(self.SQL)
        self.assertEqual(
            check.check_ops(os.path.dirname(HERE), self.data, self.out,
                            ["q_ok"]), {})

    def test_wrong_result_fails(self):
        self.result(self.SQL.replace("count(*)", "count(*) + 1"))
        got = check.check_ops(os.path.dirname(HERE), self.data, self.out,
                              ["q_ok"])
        self.assertIn("q_ok", got)

    def test_empty_result_without_oracle_fails(self):
        self.result(self.SQL)
        os.makedirs(os.path.join(self.out, "q_none"))
        self.con.execute(f"COPY (SELECT 1 AS x WHERE false) TO "
                         f"'{self.out}/q_none/part-0.parquet' (FORMAT parquet)")
        got = check.check_ops(os.path.dirname(HERE), self.data, self.out,
                              ["q_ok", "q_none"])
        self.assertEqual(list(got), ["q_none"])


if __name__ == "__main__":
    unittest.main()
