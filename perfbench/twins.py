"""Output checks: result hashing and DuckDB twins of the warehouse queries.

Every timed result is reduced to an order-insensitive hash of its column
names and values.  The verified hash for the same operation comes from
DuckDB reading the same Parquet files outside the timed loop: the twins
below for ``queries/warehouse.py`` and the engine's own ``oracle_sql()``
for the registered TPC-H-shaped queries.
"""

from __future__ import annotations

import hashlib
import os
from decimal import Decimal


def _norm(v, float_digits: int | None) -> str:
    if v is None:
        return "∅"
    if isinstance(v, float):
        return repr(v) if float_digits is None else f"{v:.{float_digits}g}"
    if isinstance(v, Decimal):
        return format(v, "f")
    return str(v)


def result_hash(columns: list[str], rows, float_digits: int | None = None) -> str:
    """Hash of a result as a multiset of rows, columns taken by name.

    ``float_digits=None`` compares doubles bit-for-bit (the engine's oracle
    contract); a number rounds doubles to that many significant digits."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    body = sorted(
        "\x1f".join(_norm(r[i], float_digits) for i in order) for r in rows
    )
    h = hashlib.sha1("\x1f".join(columns[i] for i in order).encode())
    for line in body:
        h.update(b"\x1e" + line.encode())
    return h.hexdigest()


def duck_hash(con, sql: str, float_digits: int | None = None) -> str:
    rel = con.execute(sql)
    return result_hash([d[0] for d in rel.description], rel.fetchall(), float_digits)


def warehouse_connection(wh: str):
    """DuckDB views over a warehouse directory the engine's ETL wrote."""
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in ("dim_data", "dim_demografia", "dim_municipio", "dim_ocupacao", "dim_causa",
              "ponte_grupo_causas"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{wh}/{t}/*.parquet')")
    for t in ("fact_nascimentos", "fact_obitos", "fact_internacoes"):
        if os.path.isdir(os.path.join(wh, t)):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{wh}/{t}/*/*.parquet', hive_partitioning = true)"
            )
    return con


def _q(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


def twin_sql(con, fn: str, params: tuple) -> str:
    """DuckDB SQL computing what ``queries.warehouse.<fn>(spark, wh, *params)``
    returns (same column names)."""
    if fn == "rollup_deaths_by_occupation_schooling":
        return """SELECT o.descricao_familia, d.escolaridade,
                         SUM(f.quantidade_obitos) AS quantidade_obitos
                  FROM fact_obitos f JOIN dim_ocupacao o USING (chave_ocupacao)
                  JOIN dim_demografia d USING (chave_demografia) GROUP BY ALL"""
    if fn == "rollup_births_by_state_age":
        return """SELECT m.estado, d.faixa_etaria,
                         SUM(f.quantidade_nascimentos) AS quantidade_nascimentos
                  FROM fact_nascimentos f
                  JOIN dim_municipio m ON f.chave_municipio_nascimento = m.chave_municipio
                  JOIN dim_demografia d USING (chave_demografia) GROUP BY ALL"""
    if fn == "slice_dice_deaths":
        city, y0, y1 = params
        return f"""SELECT d.mes, d.ano, d.numero_mes,
                          SUM(f.quantidade_obitos) AS quantidade_obitos
                   FROM fact_obitos f
                   JOIN dim_municipio m ON f.chave_municipio_residencia = m.chave_municipio
                   JOIN dim_data d ON f.chave_data_obito = d.chave_data
                   WHERE m.nome_municipio = {_q(city)} AND d.ano BETWEEN {y0} AND {y1}
                   GROUP BY ALL"""
    if fn == "pivot_deaths_year_by_uf":
        ufs = [r[0] for r in con.execute(
            "SELECT DISTINCT uf FROM dim_municipio WHERE uf IS NOT NULL ORDER BY uf").fetchall()]
        cols = ", ".join(
            f'SUM(CASE WHEN m.uf = {_q(u)} THEN f.quantidade_obitos END) AS "{u}"' for u in ufs
        )
        return f"""SELECT d.ano, {cols}
                   FROM fact_obitos f
                   JOIN dim_municipio m ON f.chave_municipio_residencia = m.chave_municipio
                   JOIN dim_data d ON f.chave_data_obito = d.chave_data GROUP BY d.ano"""
    if fn == "drill_across_growth":
        (regions,) = params
        where = (f"WHERE regiao_saude IN ({', '.join(_q(r) for r in regions)})"
                 if regions else "")
        return f"""WITH mun AS (SELECT chave_municipio, nome_municipio FROM dim_municipio {where}),
            b AS (SELECT d.ano, m.nome_municipio, SUM(f.quantidade_nascimentos) AS n
                  FROM fact_nascimentos f
                  JOIN mun m ON f.chave_municipio_residencia = m.chave_municipio
                  JOIN dim_data d ON f.chave_data = d.chave_data GROUP BY ALL),
            o AS (SELECT d.ano, m.nome_municipio, SUM(f.quantidade_obitos) AS o
                  FROM fact_obitos f
                  JOIN mun m ON f.chave_municipio_residencia = m.chave_municipio
                  JOIN dim_data d ON f.chave_data_obito = d.chave_data GROUP BY ALL)
            SELECT COALESCE(b.ano, o.ano) AS ano,
                   COALESCE(b.nome_municipio, o.nome_municipio) AS municipio,
                   COALESCE(b.n, 0) AS nascimentos, COALESCE(o.o, 0) AS obitos,
                   COALESCE(b.n, 0) - COALESCE(o.o, 0) AS crescimento_natural
            FROM b FULL OUTER JOIN o
              ON b.ano = o.ano AND b.nome_municipio = o.nome_municipio"""
    if fn == "topk_causes_per_family":
        (k,) = params
        return f"""WITH g AS (
              SELECT oc.descricao_familia, c.descricao_causa,
                     SUM(f.quantidade_obitos) AS quantidade_obitos
              FROM fact_obitos f JOIN dim_ocupacao oc USING (chave_ocupacao)
              JOIN ponte_grupo_causas p USING (chave_grupo_causa)
              JOIN dim_causa c ON p.chave_causa = c.chave_causa
              WHERE p.ordem_causa = 1 AND c.codigo_cid10 <> '0000' GROUP BY ALL)
            SELECT * FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY descricao_familia
                                 ORDER BY quantidade_obitos DESC, descricao_causa) AS ranking
                           FROM g) WHERE ranking <= {int(k)}"""
    if fn == "rollup_cost_by_cause_chapter":
        return """SELECT c.capitulo, c.descricao_capitulo,
                         CAST(SUM(f.valor) AS DECIMAL(15,2)) AS valor_total,
                         SUM(f.quantidade_procedimentos) AS quantidade_procedimentos
                  FROM fact_internacoes f
                  JOIN dim_causa c ON f.chave_causa_primaria = c.chave_causa GROUP BY ALL"""
    if fn == "stay_cost_by_municipality":
        return """SELECT m.nome_municipio, m.estado,
                         CAST(SUM(f.valor) AS DECIMAL(15,2)) AS valor_total,
                         AVG(CAST(s.data AS DATE) - CAST(e.data AS DATE)) AS media_permanencia_dias,
                         SUM(f.quantidade_procedimentos) AS quantidade_procedimentos
                  FROM fact_internacoes f
                  JOIN dim_data e ON f.chave_data_entrada = e.chave_data
                  JOIN dim_data s ON f.chave_data_saida = s.chave_data
                  JOIN dim_municipio m ON f.chave_municipio = m.chave_municipio
                  WHERE f.chave_data_saida <> 0 GROUP BY ALL"""
    raise ValueError(f"no DuckDB twin for {fn!r}")
