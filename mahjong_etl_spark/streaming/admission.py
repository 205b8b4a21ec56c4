"""Streaming corpus admission control — a per-source token-budget
gate on the document ingest stream.

WHY THIS OPERATOR IS STATEFUL-ONLY.  The admission rule is the greedy
fold every ingestion quota actually runs: a document is accepted iff
the tokens ACCEPTED SO FAR for its source plus its own tokens fit the
budget; a rejected document does NOT consume budget, so a later
smaller document can still be admitted.  That "accepted so far" term
makes the fold order-dependent and non-prefix-monotonic — it is not a
window cumulative sum (the batch ``corpus_source_quota`` lottery IS
window-expressible because its rank ignores running totals), not
expressible in ANSI SQL without a per-row recursive scan, and exactly
what a state store is for.

DETERMINISM DISCIPLINE (matches anomaly_stream.py): rows are folded
in (ts, doc_id) order WITHIN each micro-batch group, so for any batch
chopping that respects per-source arrival order the admitted set is
identical — one AvailableNow drain reproduces the single-process fold
bit-for-bit.  All state is exact int64 token counts plus the admitted
language set; no floats anywhere.

Scale: state per source is two int64s + the admitted-language set —
bounded by the key space, not stream length, so no timeout/expiry is
needed for correctness.  The stream shuffles once on source; a 100 TB
ingest with a few hundred sources is a few-hundred-key exchange.
(Skew: one hot source serializes its own admissions by construction —
admission is a sequential fold per budget domain, so per-source
ordering IS the semantics; shard the BUDGET, not the operator, if a
source outgrows a task.)

STATE FORMAT: v2 (n_accepted, tok_accepted, langs_json) — langs is a
sorted JSON array, delimiter-proof for any lang value.  Not
restart-compatible with a v1 (CSV-encoded) checkpoint; v1 never
shipped outside the round that replaced it, so there is no migration
path — restart such a stream from a fresh checkpoint and let the
source replay.
"""

from __future__ import annotations

import json
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    BooleanType,
    LongType,
    StringType,
    StructField,
    StructType,
)

# Token budget each source may admit (tokens = whitespace token count,
# the text_token_stats definition).  Small enough that test fixtures
# exercise both accept and reject branches.
ADMIT_BUDGET = 2_000

ADMIT_OUT = StructType(
    [
        StructField("source", StringType()),
        StructField("doc_id", LongType()),
        StructField("n_tokens", LongType()),
        StructField("accepted", BooleanType()),
        StructField("budget_used", LongType()),
        StructField("n_langs_admitted", LongType()),
    ]
)

# GroupState tuple: (n_accepted, tok_accepted, langs_json)
# langs_json is a sorted JSON array — delimiter-proof for any lang
# value (empty string, embedded commas), unlike a joined CSV
ADMIT_STATE = StructType(
    [
        StructField("n_accepted", LongType()),
        StructField("tok_accepted", LongType()),
        StructField("langs_json", StringType()),
    ]
)


def _fold_batch(
    source: str,
    batch: pd.DataFrame,
    n_acc: int,
    tok_acc: int,
    langs: set,
) -> tuple[pd.DataFrame, int, int]:
    """The greedy fold over one micro-batch group for one source."""
    batch = batch.sort_values(["ts", "doc_id"], kind="mergesort")
    out = []
    for r in batch.itertuples(index=False):
        tok = int(r.n_tokens)
        ok = tok_acc + tok <= ADMIT_BUDGET
        if ok:
            n_acc += 1
            tok_acc += tok
            langs.add(r.lang)
        out.append((source, int(r.doc_id), tok, ok, tok_acc, len(langs)))
    return (
        pd.DataFrame(
            out,
            columns=[
                "source",
                "doc_id",
                "n_tokens",
                "accepted",
                "budget_used",
                "n_langs_admitted",
            ],
        ),
        n_acc,
        tok_acc,
    )


def _admit_group(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    if state.exists:
        n_acc, tok_acc, langs_json = state.get
        langs = set(json.loads(langs_json))
    else:
        n_acc = tok_acc = 0
        langs = set()
    batch = pd.concat(list(pdfs), ignore_index=True)
    out, n_acc, tok_acc = _fold_batch(key[0], batch, n_acc, tok_acc, langs)
    # None-safe sort: a nullable lang column puts None in the set, and
    # sorted() on a mixed None/str set raises TypeError on the
    # executor — the fold itself tolerates None, so the stream must
    # too (r7 advice)
    state.update(
        (
            n_acc,
            tok_acc,
            json.dumps(sorted(langs, key=lambda v: (v is None, v or ""))),
        )
    )
    yield out


def admission_stream(docs: DataFrame) -> DataFrame:
    """Wire the admission fold onto a streaming documents frame with
    columns (doc_id, ts, source, lang, n_tokens) via GroupState."""
    return docs.groupBy("source").applyInPandasWithState(
        _admit_group,
        outputStructType=ADMIT_OUT,
        stateStructType=ADMIT_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def admission_fold(rows) -> list[tuple]:
    """Single-process reference fold (the semantics oracle both
    streams must reproduce): rows is an iterable of (doc_id, ts,
    source, lang, n_tokens) in per-source arrival order."""
    totals: dict[str, int] = {}
    langs: dict[str, set] = {}
    out = []
    for doc_id, _ts, source, lang, tok in rows:
        used = totals.get(source, 0)
        ok = used + tok <= ADMIT_BUDGET
        if ok:
            used += tok
            totals[source] = used
            langs.setdefault(source, set()).add(lang)
        out.append(
            (source, doc_id, tok, ok, used, len(langs.get(source, ())))
        )
    return out
