"""Admission gate: the streamed greedy budget fold must reproduce the
single-process reference fold exactly, across micro-batch choppings,
with state carried between batches."""

from __future__ import annotations

import json
import os

import pytest

from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

from mahjong_etl_spark.streaming.admission import (
    ADMIT_BUDGET,
    admission_fold,
    admission_stream,
)

_DOC_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("ts", LongType()),
        StructField("source", StringType()),
        StructField("lang", StringType()),
        StructField("n_tokens", LongType()),
    ]
)


def _mk_rows():
    """Three sources; token sizes chosen so each source crosses its
    budget mid-stream AND a post-rejection smaller doc is re-admitted
    (the non-monotonic branch that distinguishes the greedy fold from
    a cumulative-sum cut)."""
    rows = []
    doc_id = 0
    for s_i, source in enumerate(("web", "books", "code")):
        toks = [700, 600, 900, 400, 200, 900, 100, 50]
        for t_i, tok in enumerate(toks):
            doc_id += 1
            rows.append(
                (
                    doc_id,
                    1_000 * (t_i + 1) + s_i,  # per-source increasing ts
                    source,
                    # '', an embedded comma and None are the lang
                    # values that would corrupt a delimiter-joined
                    # state encoding or crash a plain sorted() —
                    # kept pathological on purpose (regressions: the
                    # langs set is JSON-encoded in GroupState, and its
                    # sort key must be None-safe, r7 advice)
                    ("en", "", None, "pt,BR")[(doc_id * 7) % 4],
                    tok + s_i,  # break symmetry between sources
                )
            )
    return rows


def _check_semantics(want: dict) -> None:
    """Every source must see >=1 rejection, >=1 acceptance AFTER its
    first rejection (the greedy re-admission branch), and no budget
    overrun."""
    by_source: dict[str, list] = {}
    for t in want.values():
        by_source.setdefault(t[0], []).append(t)
    assert len(by_source) == 3
    for source, ts in by_source.items():
        ts.sort(key=lambda t: t[1])
        flags = [t[3] for t in ts]
        assert False in flags, source
        first_rej = flags.index(False)
        assert True in flags[first_rej + 1 :], source
        assert max(t[4] for t in ts) <= ADMIT_BUDGET


@pytest.mark.parametrize("n_files", [1, 4])
def test_admission_stream_matches_reference_fold(spark, tmp_path, n_files):
    rows = _mk_rows()

    # chop into n_files micro-batches, preserving per-source ts order
    # (the determinism contract: chopping respects arrival order)
    drop = tmp_path / "drop"
    drop.mkdir()
    chunk = (len(rows) + n_files - 1) // n_files
    cols = ("doc_id", "ts", "source", "lang", "n_tokens")
    for i in range(n_files):
        path = drop / f"b{i:02d}.jsonl"
        with open(path, "w") as f:
            for r in rows[i * chunk : (i + 1) * chunk]:
                f.write(json.dumps(dict(zip(cols, r))) + "\n")
        # distinct mtimes: the file source's batch order is mtime
        # order, and same-second ties would scramble the chopping
        os.utime(path, (1_700_000_000 + i, 1_700_000_000 + i))

    stream = (
        spark.readStream.schema(_DOC_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(str(drop))
    )
    q = (
        admission_stream(stream)
        .writeStream.format("memory")
        .queryName(f"admission_{n_files}")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120), "stream did not drain in 120s"

    got = {
        r["doc_id"]: (
            r["source"],
            r["doc_id"],
            r["n_tokens"],
            r["accepted"],
            r["budget_used"],
            r["n_langs_admitted"],
        )
        for r in spark.sql(f"SELECT * FROM admission_{n_files}").collect()
    }
    want = {t[1]: t for t in admission_fold(rows)}
    assert got == want
    _check_semantics(want)
