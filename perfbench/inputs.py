"""Seeded input generation for the benchmark workloads.

Every input is derived from ``numpy.random.default_rng([seed, workload])``
alone, so one seed always gives byte-identical files. The program under
test only ever sees the files written here: a dischema, the submitted
file(s) and the refdata parquet tables.

The generated tables follow the TPC-H shapes of the repo's sf0.1 test
data (lineitem / orders / part) and the documents table (short
whitespace-tokenised texts), scaled to the sizes below.
"""

from __future__ import annotations

import hashlib
import json
from dataclasses import dataclass, field
from fractions import Fraction
from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

WORKLOADS = ("bulk_csv", "corpus_dedup")

# submitted records per workload (corpus: originals, before the planted
# duplicates); see README.md for how they were chosen
SIZES = {"bulk_csv": 100_000, "corpus_dedup": 400}
BULK_ORDERS = 5_000
BULK_PARTS = 1_000
BULK_ERROR_RATE = 0.05  # split evenly over the planted error kinds
CORPUS_EXACT_DUP_RATE = 0.10
CORPUS_NEAR_DUP_RATE = 0.10
CORPUS_SHORT_RATE = 0.02  # planted quality-filter failures
NEAR_DUP_THRESHOLD = 0.7
SHINGLE_SIZE = 3  # dedup_ngram_pairs' default: word 3-grams


@dataclass
class Inputs:
    """What one workload's program receives, plus its manifest."""

    workload: str
    seed: int
    root: Path
    dischema: Path
    submissions: list[Path]
    landing: Path | None = None  # set when the submission arrives with metadata
    refdata: dict[str, Path] = field(default_factory=dict)
    manifest: list[dict] = field(default_factory=list)

    @property
    def records(self) -> int:
        return sum(m["records"] for m in self.manifest if m["kind"] == "submission")

    @property
    def input_bytes(self) -> int:
        return sum(m["bytes"] for m in self.manifest if m["kind"] != "dischema")


def _sha256(path: Path) -> str:
    return hashlib.sha256(path.read_bytes()).hexdigest()


def _record(inputs: Inputs, path: Path, kind: str, records: int) -> None:
    inputs.manifest.append(
        {
            "file": str(path.relative_to(inputs.root)),
            "kind": kind,
            "records": records,
            "bytes": path.stat().st_size,
            "sha256": _sha256(path),
        }
    )


def _write_parquet(df: pd.DataFrame, path: Path) -> None:
    # one file, no pandas index, fixed writer settings: byte-identical
    # output for identical frames
    pq.write_table(
        pa.Table.from_pandas(df, preserve_index=False),
        path,
        compression="snappy",
    )


def _write_dischema(inputs: Inputs, dischema: dict) -> None:
    inputs.dischema.write_text(json.dumps(dischema, indent=1, sort_keys=True))
    _record(inputs, inputs.dischema, "dischema", 0)


def _dates(rng: np.random.Generator, n: int) -> np.ndarray:
    days = rng.integers(0, 2_400, n)  # 1992-01-01 .. ~1998-07
    return (np.datetime64("1992-01-01") + days.astype("timedelta64[D]")).astype(str)


def _money(values: np.ndarray) -> np.ndarray:
    return np.char.mod("%.2f", values)


# -- bulk_csv ----------------------------------------------------------------

BULK_DISCHEMA = {
    "contract": {
        "datasets": {
            "lineitem": {
                "fields": {
                    "l_orderkey": "int",
                    "l_partkey": "int",
                    "l_suppkey": "int",
                    "l_linenumber": "int",
                    "l_quantity": "float",
                    "l_extendedprice": "float",
                    "l_discount": "float",
                    "l_tax": "float",
                    "l_returnflag": "str",
                    "l_linestatus": "str",
                    "l_shipdate": "date",
                },
                "key_field": "l_orderkey",
                "mandatory_fields": [
                    "l_orderkey",
                    "l_partkey",
                    "l_linenumber",
                    "l_shipdate",
                ],
                "reader_config": {".csv": {"reader": "SparkCSVReader"}},
            }
        }
    },
    "transformations": {
        "reference_data": {
            "orders": {"type": "filename", "filename": "orders.parquet"},
            "part": {"type": "filename", "filename": "part.parquet"},
        },
        "rules": [
            {
                "operation": "left_join",
                "entity": "lineitem",
                "target": "refdata_orders",
                "join_condition": "lineitem.l_orderkey == refdata_orders.o_orderkey",
                "new_columns": {"refdata_orders.o_orderstatus": "o_orderstatus"},
            },
            {
                "operation": "left_join",
                "entity": "lineitem",
                "target": "refdata_part",
                "join_condition": "lineitem.l_partkey == refdata_part.p_partkey",
                "new_columns": {"refdata_part.p_brand": "p_brand"},
            },
        ],
        "filters": [
            {
                "entity": "lineitem",
                "name": "known_order",
                "expression": "o_orderstatus IS NOT NULL",
                "error_code": "ORPHAN_ORDER",
                "failure_message": "order {{l_orderkey}} not in refdata",
                "reporting_field": "l_orderkey",
            },
            {
                "entity": "lineitem",
                "name": "known_part",
                "expression": "p_brand IS NOT NULL",
                "error_code": "ORPHAN_PART",
                "failure_message": "part {{l_partkey}} not in refdata",
                "reporting_field": "l_partkey",
            },
            {
                "entity": "lineitem",
                "name": "discount_range",
                "expression": "l_discount BETWEEN 0 AND 0.1",
                "error_code": "DISCOUNT_OUT_OF_RANGE",
                "failure_message": "discount outside [0, 0.1]",
                "reporting_field": "l_discount",
            },
        ],
        "post_filter_rules": [
            {
                "operation": "group_by",
                "entity": "lineitem",
                "group_by": {
                    "l_returnflag": "l_returnflag",
                    "l_linestatus": "l_linestatus",
                },
                "agg_columns": {
                    "count(1)": "n_lines",
                    "round(sum(l_quantity), 2)": "sum_qty",
                },
                "new_entity_name": "lineitem_summary",
            }
        ],
    },
}


def _bulk(inputs: Inputs, rng: np.random.Generator, n: int) -> None:
    orders = pd.DataFrame(
        {
            "o_orderkey": np.arange(1, BULK_ORDERS + 1, dtype=np.int64),
            "o_orderstatus": rng.choice(["F", "O", "P"], BULK_ORDERS),
            "o_totalprice": np.round(rng.uniform(900, 500_000, BULK_ORDERS), 2),
        }
    )
    part = pd.DataFrame(
        {
            "p_partkey": np.arange(1, BULK_PARTS + 1, dtype=np.int64),
            "p_brand": np.char.add(
                "Brand#", rng.integers(11, 56, BULK_PARTS).astype(str)
            ),
            "p_size": rng.integers(1, 51, BULK_PARTS),
        }
    )
    for name, df in (("orders", orders), ("part", part)):
        path = inputs.root / f"{name}.parquet"
        _write_parquet(df, path)
        inputs.refdata[name] = path
        _record(inputs, path, "refdata", len(df))

    qty = rng.integers(1, 51, n)
    price = qty * rng.uniform(900, 2_100, n)
    li = pd.DataFrame(
        {
            "l_orderkey": rng.integers(1, BULK_ORDERS + 1, n).astype(str),
            "l_partkey": rng.integers(1, BULK_PARTS + 1, n).astype(str),
            "l_suppkey": rng.integers(1, 1_001, n).astype(str),
            "l_linenumber": rng.integers(1, 8, n).astype(str),
            "l_quantity": qty.astype(str),
            "l_extendedprice": _money(price),
            "l_discount": np.char.mod("%.2f", rng.integers(0, 11, n) / 100),
            "l_tax": np.char.mod("%.2f", rng.integers(0, 9, n) / 100),
            "l_returnflag": rng.choice(["A", "N", "R"], n),
            "l_linestatus": rng.choice(["F", "O"], n),
            "l_shipdate": _dates(rng, n),
        }
    )
    # planted errors, one kind per errored record, each kind ~1.25%
    kind = np.where(
        rng.random(n) < BULK_ERROR_RATE, rng.integers(0, 5, n), -1
    )
    bad_num = kind == 0
    li.loc[bad_num, "l_extendedprice"] = np.char.add(
        li.loc[bad_num, "l_extendedprice"].to_numpy().astype(str), "x"
    )
    li.loc[kind == 1, "l_shipdate"] = ""  # missing mandatory field
    li.loc[kind == 2, "l_orderkey"] = (
        BULK_ORDERS + rng.integers(1, 1_000, int((kind == 2).sum()))
    ).astype(str)  # orphan order
    li.loc[kind == 3, "l_partkey"] = (
        BULK_PARTS + rng.integers(1, 1_000, int((kind == 3).sum()))
    ).astype(str)  # orphan part
    li.loc[kind == 4, "l_discount"] = np.char.mod(
        "%.2f", rng.integers(11, 30, int((kind == 4).sum())) / 100
    )  # sync-filter breach
    # landed with its metadata sidecar, as process_landing expects
    inputs.landing = inputs.root / "landing"
    inputs.landing.mkdir()
    path = inputs.landing / "lineitem.csv"
    li.to_csv(path, index=False)
    meta = inputs.landing / "lineitem.csv.metadata.json"
    meta.write_text(
        json.dumps(
            {
                "dataset_id": "lineitem",
                "file_name": path.name,
                "file_extension": ".csv",
                "submission_method": "landing",
                "submitting_org": "ORG1",
            },
            sort_keys=True,
        )
    )
    inputs.submissions.append(path)
    _record(inputs, path, "submission", n)
    _record(inputs, meta, "metadata", 1)
    _write_dischema(inputs, BULK_DISCHEMA)


# -- corpus_dedup ------------------------------------------------------------

CORPUS_DISCHEMA = {
    "contract": {
        "datasets": {
            "documents": {
                "fields": {
                    "doc_id": "int",
                    "text": "str",
                    "lang": "str",
                    "source": "str",
                    "n_chars": "int",
                },
                "key_field": "doc_id",
                "mandatory_fields": ["doc_id", "text"],
                "reader_config": {
                    ".jsonl": {
                        "reader": "SparkJSONReader",
                        "kwargs": {"multi_line": False},
                    }
                },
            }
        }
    },
    "transformations": {
        "post_filter_rules": [
            {
                "operation": "normalize_text",
                "entity": "documents",
                "text_column": "text",
            },
            {
                "operation": "quality_filters",
                "entity": "documents",
                "text_column": "text",
            },
            {
                "operation": "dedup_exact",
                "entity": "documents",
                "key_columns": ["text"],
                "order_column": "doc_id",
            },
            {
                "operation": "dedup_ngram_pairs",
                "entity": "documents",
                "id_column": "doc_id",
                "text_column": "text",
                "threshold": NEAR_DUP_THRESHOLD,
                "new_entity_name": "near_dup_pairs",
            },
        ],
    },
}


_SYLLABLES = [a + b for a in "bcdfgklmnprstvz" for b in "aeiou"]


def _vocabulary(rng: np.random.Generator, size: int = 600) -> np.ndarray:
    words = set()
    while len(words) < size:
        k = int(rng.integers(1, 4))
        words.add("".join(rng.choice(_SYLLABLES, k)))
    return np.array(sorted(words))


def _novel_words(rng: np.random.Generator, count: int) -> list[str]:
    """Distinct words that start with "x", which no vocabulary word does:
    appended to a document, each adds shingles found nowhere else."""
    words: dict[str, None] = {}
    while len(words) < count:
        words["x" + "".join(rng.choice(_SYLLABLES, int(rng.integers(1, 3))))] = None
    return list(words)


def shingle_set(text: str) -> set[tuple[str, ...]]:
    toks = text.split()
    return {tuple(toks[i : i + SHINGLE_SIZE]) for i in range(len(toks) - SHINGLE_SIZE + 1)}


def _near_dup_extras(rng: np.random.Generator, sizes: dict[int, int], n: int) -> dict[int, int]:
    """How many novel words to append to each of ``n`` base documents.

    ``sizes`` maps candidate bases to their distinct shingle counts S.
    Appending k novel words to a base gives a pair of Jaccard S / (S + k).
    A quarter of the pairs sit exactly at the threshold t (k = S(1-t)/t,
    so S must make it whole), a quarter one word beyond it, just below t,
    and the rest spread over Jaccard 0.6-0.8.
    """
    t = Fraction(str(NEAR_DUP_THRESHOLD))
    per_shingle = (1 - t) / t
    bases = [int(b) for b in rng.permutation(sorted(sizes))]
    boundary = [b for b in bases if (sizes[b] * per_shingle).denominator == 1][: n // 2]
    taken = set(boundary)
    rest = [b for b in bases if b not in taken][: n - len(boundary)]
    extras = {}
    for i, b in enumerate(boundary):
        extras[b] = int(sizes[b] * per_shingle) + i % 2  # at t, then just below
    for b in rest:
        j = rng.uniform(0.6, 0.8)
        extras[b] = max(1, round(sizes[b] * (1 - j) / j))
    return extras


def _corpus(inputs: Inputs, rng: np.random.Generator, n: int) -> None:
    vocab = _vocabulary(rng)
    weights = 1.0 / np.arange(1, len(vocab) + 1) ** 0.8  # mild Zipf
    weights /= weights.sum()

    def words(k: int) -> list[str]:
        return list(rng.choice(vocab, k, p=weights))

    texts = []
    for _ in range(n):
        if rng.random() < CORPUS_SHORT_RATE:
            texts.append(" ".join(words(int(rng.integers(1, 5)))))
        else:
            texts.append(" ".join(words(int(rng.integers(20, 110)))))
    originals = len(texts)
    n_exact = int(originals * CORPUS_EXACT_DUP_RATE)
    n_near = int(originals * CORPUS_NEAR_DUP_RATE)
    for src in rng.choice(originals, n_exact, replace=False):
        texts.append(texts[src])
    sizes = {i: len(shingle_set(texts[i])) for i in range(originals)}
    extras = _near_dup_extras(rng, {i: s for i, s in sizes.items() if s >= 10}, n_near)
    novel = iter(_novel_words(rng, sum(extras.values())))
    for src, k in extras.items():
        texts.append(" ".join([texts[src]] + [next(novel) for _ in range(k)]))
    order = rng.permutation(len(texts))
    langs = rng.choice(["en", "de", "fr"], len(texts), p=[0.8, 0.1, 0.1])
    sources = rng.choice(["crawl", "books", "forum"], len(texts))
    path = inputs.root / "documents.jsonl"
    with path.open("w") as fh:
        for doc_id, i in enumerate(order, start=1):
            fh.write(
                json.dumps(
                    {
                        "doc_id": doc_id,
                        "text": texts[i],
                        "lang": str(langs[i]),
                        "source": str(sources[i]),
                        "n_chars": len(texts[i]),
                    }
                )
                + "\n"
            )
    inputs.submissions.append(path)
    _record(inputs, path, "submission", len(texts))
    _write_dischema(inputs, CORPUS_DISCHEMA)


_BUILDERS = {"bulk_csv": _bulk, "corpus_dedup": _corpus}


def generate(workload: str, seed: int, root: Path) -> Inputs:
    """Write one workload's inputs for ``seed`` under the empty dir ``root``."""
    root.mkdir(parents=True, exist_ok=True)
    inputs = Inputs(workload, seed, root, root / "dischema.json", [])
    rng = np.random.default_rng([seed, WORKLOADS.index(workload)])
    _BUILDERS[workload](inputs, rng, SIZES[workload])
    return inputs
