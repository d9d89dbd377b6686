"""Independent expectations (DuckDB) and the per-pass output check.

The expectations are computed from the generated files alone, with
DuckDB SQL written from the dischema's declared semantics rather than
from the engine's code:

- records received per submission;
- message counts per ``(entity, error_code)``;
- validated rows per output entity;
- for ``corpus_dedup``, the exact set of near-duplicate pairs at word
  3-gram Jaccard >= threshold, by a naive shingle self-join (no prefix
  filter).

:func:`check` compares one :class:`PipelineResult` against them by
reading the files the pipeline wrote (again with DuckDB, so the check
issues no Spark job).
"""

from __future__ import annotations

from dataclasses import dataclass
from pathlib import Path

import duckdb

from perfbench.inputs import NEAR_DUP_THRESHOLD, Inputs


@dataclass
class Expected:
    """What one submission must produce."""

    records: int
    errors: dict[str, int]  # "entity|error_code" -> message count
    rows: dict[str, int]  # output entity -> validated rows
    pairs: set[tuple[int, int]] | None = None
    summary_lines: int | None = None  # bulk_csv: sum of lineitem_summary.n_lines


def connect(temp_dir: Path) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect(config={"autoinstall_known_extensions": False})
    con.execute(f"SET temp_directory = '{temp_dir}'")
    con.execute("SET threads = 2")
    return con


def _counts(con, sql: str) -> dict[str, int]:
    return {f"{e}|{c}": int(n) for e, c, n in con.execute(sql).fetchall() if n}


def _bad_number(col: str, sql_type: str) -> str:
    return (
        f"(trim({col}) <> '' AND try_cast(trim({col}) AS {sql_type}) IS NULL)"
    )


def _missing(col: str) -> str:
    return f"({col} IS NULL OR trim({col}) = '')"


def _bad_date(col: str) -> str:
    return (
        f"(trim({col}) <> '' AND try_strptime(trim({col}), '%Y-%m-%d') IS NULL)"
    )


def _contract_rows(checks: list[tuple[str, str]]) -> str:
    """UNION ALL of (error_code, failed) per check, one row per record."""
    return " UNION ALL ".join(
        f"SELECT rid, '{code}' AS code FROM typed WHERE {pred}"
        for code, pred in checks
    )


def _bulk(con, inputs: Inputs) -> list[Expected]:
    csv, orders, part = inputs.submissions[0], inputs.refdata["orders"], inputs.refdata["part"]
    ints = ["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber"]
    floats = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    checks = [("INVALID_NUMBER", _bad_number(c, "BIGINT")) for c in ints]
    checks += [("INVALID_NUMBER", _bad_number(c, "DOUBLE")) for c in floats]
    checks += [("INVALID_DATE", _bad_date("l_shipdate"))]
    checks += [
        ("MISSING_MANDATORY_VALUE", _missing(c))
        for c in ("l_orderkey", "l_partkey", "l_linenumber", "l_shipdate")
    ]
    con.execute(
        f"""CREATE OR REPLACE TEMP TABLE typed AS
        SELECT row_number() OVER () AS rid, *,
               try_cast(trim(l_orderkey) AS BIGINT) AS ok,
               try_cast(trim(l_partkey) AS BIGINT) AS pk,
               try_cast(trim(l_discount) AS DOUBLE) AS disc
        FROM read_csv('{csv}', all_varchar = true, header = true)"""
    )
    con.execute(
        f"""CREATE OR REPLACE TEMP TABLE msgs AS
        {_contract_rows(checks)}
        UNION ALL
        SELECT rid, 'ORPHAN_ORDER' FROM typed
          WHERE ok IS NULL OR ok NOT IN (SELECT o_orderkey FROM '{orders}')
        UNION ALL
        SELECT rid, 'ORPHAN_PART' FROM typed
          WHERE pk IS NULL OR pk NOT IN (SELECT p_partkey FROM '{part}')
        UNION ALL
        SELECT rid, 'DISCOUNT_OUT_OF_RANGE' FROM typed
          WHERE NOT coalesce(disc BETWEEN 0 AND 0.1, false)"""
    )
    sync_codes = "('ORPHAN_ORDER', 'ORPHAN_PART', 'DISCOUNT_OUT_OF_RANGE')"
    records = con.execute("SELECT count(*) FROM typed").fetchone()[0]
    valid = con.execute(
        "SELECT count(*) FROM typed WHERE rid NOT IN (SELECT rid FROM msgs)"
    ).fetchone()[0]
    groups, lines = con.execute(
        f"""SELECT count(DISTINCT (l_returnflag, l_linestatus)), count(*)
        FROM typed WHERE rid NOT IN
          (SELECT rid FROM msgs WHERE code IN {sync_codes})"""
    ).fetchone()
    errors = _counts(
        con, "SELECT 'lineitem', code, count(*) FROM msgs GROUP BY ALL"
    )
    return [
        Expected(
            records=records,
            errors=errors,
            rows={"lineitem": valid, "lineitem_summary": groups},
            summary_lines=lines,
        )
    ]


def _corpus(con, inputs: Inputs) -> list[Expected]:
    path = inputs.submissions[0]
    con.execute(
        f"""CREATE OR REPLACE TEMP TABLE docs AS
        SELECT doc_id, text,
               len(regexp_split_to_array(trim(text), '\\s+')) AS n_tok,
               length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) AS n_punct,
               length(regexp_replace(text, '\\s+', '', 'g')) AS n_nonspace
        FROM read_json('{path}', format = 'newline_delimited',
                       columns = {{doc_id: 'BIGINT', text: 'VARCHAR',
                                  lang: 'VARCHAR', source: 'VARCHAR',
                                  n_chars: 'BIGINT'}})"""
    )
    # quality_filters defaults: 5..5000 tokens, punctuation < 0.2,
    # average token length 2..15; a NULL predicate counts as a failure
    con.execute(
        """CREATE OR REPLACE TEMP TABLE msgs AS
        SELECT doc_id, 'BAD_TOKEN_COUNT' AS code FROM docs
          WHERE NOT coalesce(n_tok BETWEEN 5 AND 5000, false)
        UNION ALL
        SELECT doc_id, 'TOO_MUCH_PUNCTUATION' FROM docs
          WHERE NOT coalesce(n_punct / length(text) < 0.2, false)
        UNION ALL
        SELECT doc_id, 'BAD_AVG_TOKEN_LEN' FROM docs
          WHERE NOT coalesce(n_nonspace / n_tok BETWEEN 2 AND 15, false)"""
    )
    con.execute(
        """CREATE OR REPLACE TEMP TABLE kept AS
        SELECT min(doc_id) AS doc_id, text FROM docs
        WHERE doc_id NOT IN (SELECT doc_id FROM msgs)
        GROUP BY text"""
    )
    # distinct word 3-grams per kept doc, then the naive pair count:
    # every pair sharing any 3-gram, verified with the exact Jaccard
    con.execute(
        """CREATE OR REPLACE TEMP TABLE sh AS
        SELECT DISTINCT doc_id, array_to_string(toks[i:i + 2], ' ') AS shingle
        FROM (SELECT doc_id, toks, unnest(range(1, len(toks) - 1)) AS i
              FROM (SELECT doc_id,
                           regexp_split_to_array(trim(text), '\\s+') AS toks
                    FROM kept))"""
    )
    pairs = con.execute(
        f"""WITH sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY ALL),
        inter AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n
          FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
          GROUP BY ALL)
        SELECT id_a, id_b FROM inter
        JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
        WHERE round(inter.n / (sa.n + sb.n - inter.n), 6) >= {NEAR_DUP_THRESHOLD}"""
    ).fetchall()
    records = con.execute("SELECT count(*) FROM docs").fetchone()[0]
    kept = con.execute("SELECT count(*) FROM kept").fetchone()[0]
    errors = _counts(
        con, "SELECT 'documents', code, count(*) FROM msgs GROUP BY ALL"
    )
    return [
        Expected(
            records=records,
            errors=errors,
            rows={"documents": kept, "near_dup_pairs": len(pairs)},
            pairs={(int(a), int(b)) for a, b in pairs},
        )
    ]


_EXPECTATIONS = {"bulk_csv": _bulk, "corpus_dedup": _corpus}


def expectations(con, inputs: Inputs) -> list[Expected]:
    """One :class:`Expected` per submission, in result order."""
    return _EXPECTATIONS[inputs.workload](con, inputs)


def parquet_scan(path: str) -> str:
    """A DuckDB scan of every parquet file under ``path`` (any depth)."""
    return f"read_parquet('{Path(path) / '**' / '*.parquet'}')"


def check(con, result, expected: Expected) -> list[str]:
    """Mismatches between one pipeline result and its expectation."""
    problems = []
    if not result.success:
        return ["pipeline returned success=False"]
    got = result.statistics.get("record_count")
    if got != expected.records:
        problems.append(f"record_count {got} != {expected.records}")
    errors = _counts(
        con,
        f"""SELECT entity, error_code, sum(n_errors)
        FROM {parquet_scan(result.error_aggregates_path)} GROUP BY ALL""",
    )
    if errors != expected.errors:
        problems.append(f"error counts {errors} != {expected.errors}")
    rows = {
        name: con.execute(f"SELECT count(*) FROM {parquet_scan(path)}").fetchone()[0]
        for name, path in result.entity_paths.items()
    }
    if rows != expected.rows:
        problems.append(f"entity rows {rows} != {expected.rows}")
    if expected.summary_lines is not None and "lineitem_summary" in rows:
        lines = con.execute(
            "SELECT sum(n_lines) FROM "
            + parquet_scan(result.entity_paths["lineitem_summary"])
        ).fetchone()[0]
        if lines != expected.summary_lines:
            problems.append(f"summary n_lines {lines} != {expected.summary_lines}")
    if expected.pairs is not None and "near_dup_pairs" in rows:
        pairs = {
            (int(a), int(b))
            for a, b in con.execute(
                "SELECT id_a, id_b FROM "
                + parquet_scan(result.entity_paths["near_dup_pairs"])
            ).fetchall()
        }
        if pairs != expected.pairs:
            missing, extra = expected.pairs - pairs, pairs - expected.pairs
            problems.append(
                f"near-dup pairs differ: {len(missing)} missing, {len(extra)} extra"
            )
    return problems
