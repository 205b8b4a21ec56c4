"""Corpus-preparation operators: the stages between "raw documents"
and "training batches" that a 100 TB LLM-data pipeline runs after
dedup/quality scoring.

- connected_components: resolve near-dup PAIRS into duplicate CLUSTERS
  (pick-one-per-cluster is the actual dedup action; pairs alone are
  not actionable).  Distributed min-label propagation — no driver-side
  graph, state is one (id, label) row per node, each round is a
  shuffle-join + min-aggregate, converging in O(diameter) rounds.
  Dedup graphs are star-ish (capped buckets link members to a
  representative, see dedup.py), so diameter is small and bounded.
- deterministic_split: hash-based train/val assignment.  md5 of the
  stringified id — engine-portable, reshuffle-proof (a doc's split
  never depends on partitioning or row order), and exactly
  reproducible in any other system that can compute md5.
- pack_sequences: assign documents to fixed-size context windows
  (running token count within each source, window id = offset // C) —
  the deterministic first-fit packing a sequence-packing dataloader
  needs, expressed as a window cumsum so it shuffles once on source.

Every operator here is a plain composition of DataFrame primitives —
no UDFs, fully whole-stage-codegen — and carries a DuckDB oracle
(connected components via WITH RECURSIVE transitive closure).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.text import duckdb_shingles_sql
from ..functions.goldens import golden_oracle
from ..plans.registry import query
from ..session import snapshot_cache
from ..sources.tables import load, load_spread
from .dedup import (
    JACCARD_THRESHOLD,
    MAX_SHINGLE_DF,
    corpus_jaccard_pairs,
    corpus_shingle_sets,
)

CONTEXT_TOKENS = 2048
VAL_HEX_CUTOFF = "1a"  # first 2 md5 hex chars < '1a' => ~10.2% val split


def checkpoint_tracked(df: DataFrame) -> tuple[DataFrame, set[int]]:
    """localCheckpoint (not persist) with its storage ids captured.

    An iterative plan must TRUNCATE lineage each round — a persisted
    DataFrame still carries the full logical plan, so Catalyst
    re-analysis cost grows superlinearly with rounds and the driver,
    not the executors, becomes the bottleneck.  localCheckpoint
    materializes to executor storage and replaces the plan with a
    leaf.  (Executor loss re-runs the job — at cluster scale use a
    reliable checkpoint dir for long chains.)  The id diff identifies
    the snapshot's storage so :func:`free_checkpoint` can release it
    when superseded — there is no public DataFrame handle to a
    localCheckpoint's blocks.  Shared by connected_components and the
    BPE merge loop (r7 review: BPE pinned every round's snapshot)."""
    spark = df.sparkSession
    before = set(spark.sparkContext._jsc.getPersistentRDDs().keySet())
    out = df.localCheckpoint(eager=True)
    after = spark.sparkContext._jsc.getPersistentRDDs()
    return out, set(after.keySet()) - before


def free_checkpoint(spark: SparkSession, ids: set[int]) -> None:
    """Release a superseded :func:`checkpoint_tracked` snapshot."""
    live = spark.sparkContext._jsc.getPersistentRDDs()
    for i in ids:
        rdd = live.get(i)
        if rdd is not None:
            rdd.unpersist(False)


def _contract_local(edges: DataFrame, a_col: str, b_col: str) -> DataFrame:
    """Per-partition union-find contraction (phase 1 of the two-phase
    CC recipe, Kiveris et al. 2014, "Connected Components in MapReduce
    and Beyond", SoCC): each edge partition is collapsed to star edges
    (local_root, node) — the union of the stars over all partitions
    preserves exactly the original connectivity (every node keeps a
    path to its partition-local root; cross-partition links survive
    through nodes appearing in several partitions), while intra-
    partition chains vanish.  Components that fit in one partition
    arrive at the global loop already star-shaped, so the r10 measured
    effect is 6 rounds → 2 on the semantic-dedup graph.  Memory is
    O(nodes per partition) in a plain dict — bounded by the edge
    partition size (size partitions to taste with
    spark.sql.files.maxPartitionBytes / a repartition upstream), the
    same contract as any hash aggregation.  The star edges depend on
    the partitioning, but the LOOP's fixpoint (min id per component)
    does not — output determinism is unchanged."""
    import pandas as pd

    def local_uf(it):
        parent: dict = {}

        def find(x):
            while parent.setdefault(x, x) != x:
                parent[x] = parent.get(parent[x], parent[x])
                x = parent[x]
            return x

        # union each Arrow chunk as it streams through — holding the
        # chunk list (plus a concat copy) would double-buffer the
        # whole partition right where contraction matters most; this
        # keeps peak memory at O(nodes) + one Arrow batch
        for pdf in it:
            for a, b in zip(pdf[a_col].values, pdf[b_col].values):
                ra, rb = find(int(a)), find(int(b))
                if ra != rb:
                    parent[max(ra, rb)] = min(ra, rb)
        if not parent:
            return
        nodes = list(parent)
        # roots emit a (root, root) self-edge: harmless to the label
        # loop (self-propagation is the identity) and it preserves the
        # exact node set — filtering self-rows would drop a component
        # root whose children landed in OTHER partitions, and any
        # degenerate self-loop-only node
        yield pd.DataFrame(
            {a_col: [find(n) for n in nodes], b_col: nodes}
        )

    return edges.mapInPandas(local_uf, f"{a_col} long, {b_col} long")


def connected_components(
    edges: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_iters: int = 25,
    local_contraction: bool = True,
) -> DataFrame:
    """(id, cluster_id) for every node appearing in ``edges``, where
    cluster_id is the smallest node id in the connected component.

    Two phases (Kiveris et al. 2014):

    1. **Local contraction** (``_contract_local``): one mapInPandas
       pass runs union-find inside each edge partition and emits star
       edges — same connectivity, intra-partition chains gone.  This
       is where almost all real dedup components finish (they are
       small and often co-partitioned), measured r10: the semantic-
       dedup graph's loop dropped from 6 rounds to 2.

    2. **Min-label propagation WITH pointer jumping**: every node
       starts labelled with itself; each round a node adopts the
       minimum label among itself, its neighbours' labels, and its
       label's label (the pointer jump — labels always name reachable
       nodes, so transitivity is preserved).  The jump makes label
       chains halve each round: rounds needed = O(log diameter), which
       turns a pathological 10⁶-long path into ~20 rounds.  Each round
       is two joins + one min-aggregate on the node id — the label
       table (2 longs per node) is the only state, so 10¹⁰ nodes is
       ~160 GB spread over the cluster, never driver-side.  The
       per-round convergence check is a count() action (cheap: runs on
       the already-checkpointed label table).

    ``max_iters`` = 25 therefore covers graphs of diameter ~2²⁵.
    Raises if not converged, rather than silently returning partial
    clusters.

    Superseded label snapshots are unpersisted as soon as the next
    round's snapshot is materialized (and ``sym`` after the loop), so
    executor storage holds at most sym + two label tables at any time
    instead of one snapshot per round.
    """
    spark = edges.sparkSession

    def checkpoint(df: DataFrame) -> tuple[DataFrame, set[int]]:
        return checkpoint_tracked(df)

    def free(ids: set[int]) -> None:
        free_checkpoint(spark, ids)

    if local_contraction:
        edges = _contract_local(edges, a_col, b_col)
    sym = edges.select(
        F.col(a_col).alias("src"), F.col(b_col).alias("dst")
    ).unionByName(edges.select(F.col(b_col).alias("src"), F.col(a_col).alias("dst")))
    sym, sym_ids = checkpoint(sym)
    # Seeded init: label = min(id, min neighbor) — the same exchange
    # the identity init's distinct() paid, but the first propagation
    # comes for free, so a star graph (phase 1's output for any
    # component that fit in a partition) enters the loop already at
    # its fixpoint and round 1 is the convergence confirm.  A min
    # neighbor is reachable by definition, so the invariant (labels
    # always name reachable nodes) holds from round 0.
    labels, labels_ids = checkpoint(
        sym.groupBy("src")
        .agg(F.min("dst").alias("mn"))
        .select(
            F.col("src").alias("id"),
            F.least(F.col("src"), F.col("mn")).alias("label"),
        )
    )
    try:
        for _ in range(max_iters):
            prop = sym.join(labels, sym.dst == labels.id).select(
                F.col("src").alias("id"), "label", F.lit(False).alias("is_old")
            )
            # pointer jump: id -> label(label(id))
            jump = (
                labels.alias("a")
                .join(labels.alias("b"), F.col("a.label") == F.col("b.id"))
                .select(
                    F.col("a.id").alias("id"),
                    F.col("b.label").alias("label"),
                    F.lit(False).alias("is_old"),
                )
            )
            # One aggregation produces BOTH the new label and the label
            # it replaces (each id has exactly one is_old row), so the
            # convergence check is a filter-count on the checkpointed
            # table instead of a join back to the previous snapshot —
            # one job per round, not two.
            merged, new_ids = checkpoint(
                labels.select("id", "label", F.lit(True).alias("is_old"))
                .unionByName(prop)
                .unionByName(jump)
                .groupBy("id")
                .agg(
                    F.min("label").alias("label"),
                    F.min(F.when(F.col("is_old"), F.col("label"))).alias("old_label"),
                )
            )
            n_changed = merged.where(F.col("label") != F.col("old_label")).count()
            free(labels_ids)
            labels, labels_ids = merged.select("id", "label"), new_ids
            if n_changed == 0:
                return labels.select("id", F.col("label").alias("cluster_id"))
        raise RuntimeError(f"connected_components: no fixpoint in {max_iters} rounds")
    finally:
        free(sym_ids)


# The final CC label table.  r14 (guide §2.4):
# dedup_connected_components and corpus_canonical_docs both need the
# SAME components over the SAME production pairs, and each invocation
# re-ran the whole iterative loop (contraction pass + 2-3
# checkpoint/count rounds — the loop's cost is its per-round job
# floor, not data size).  The final label table is already
# materialized in executor storage by the loop's own localCheckpoint,
# so caching the handle makes the second consumer a free lookup.  The
# labels are (id, cluster_id) — node-bounded, orders of magnitude
# smaller than the corpus at any scale.
@snapshot_cache
def corpus_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the production near-dup pairs
    relation, once per snapshot."""
    return connected_components(corpus_jaccard_pairs(spark, sf_dir))


# DuckDB mirror of pairs -> transitive closure -> (id, cluster_id) —
# shared by the clustering and canonical-selection oracles.
_CC_COMP_CTE = f"""
    WITH RECURSIVE sh AS (
        SELECT doc_id, {duckdb_shingles_sql(3)} AS shingles FROM documents
    ),
    sizes AS (SELECT doc_id, len(shingles) AS n_sh FROM sh),
    ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
    common AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
        FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    pairs AS (
        SELECT doc_a, doc_b FROM common
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
        WHERE common::DOUBLE / (sa.n_sh + sb.n_sh - common)
              >= {JACCARD_THRESHOLD}
    ),
    edges AS (
        SELECT doc_a AS a, doc_b AS b FROM pairs
        UNION
        SELECT doc_b, doc_a FROM pairs
    ),
    nodes AS (SELECT DISTINCT a AS id FROM edges),
    reach AS (
        SELECT id, id AS label FROM nodes
        UNION
        SELECT e.a, r.label FROM edges e JOIN reach r ON e.b = r.id
    ),
    comp AS (SELECT id, min(label) AS cluster_id FROM reach GROUP BY id)
"""


@query(
    "dedup_connected_components",
    oracle=f"""{_CC_COMP_CTE}
    SELECT cluster_id,
           count(*)     AS n_docs,
           max(id)      AS max_doc_id
    FROM comp GROUP BY cluster_id
    """,
)
def dedup_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs resolved into duplicate clusters: per cluster,
    its canonical id (min member), member count, and max member.  The
    oracle recomputes the same clusters with a recursive-CTE transitive
    closure — the full pairs→components semantics are hash-checked."""
    comp = corpus_components(spark, sf_dir)
    return comp.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.max("id").alias("max_doc_id"),
    )


@query(
    "corpus_canonical_docs",
    oracle=f"""{_CC_COMP_CTE}
    , m AS (
        SELECT c.cluster_id, c.id, d.n_chars
        FROM comp c JOIN documents d ON d.doc_id = c.id
    ),
    ranked AS (
        SELECT cluster_id, id, n_chars,
               row_number() OVER (PARTITION BY cluster_id
                                  ORDER BY n_chars DESC, id) AS rn,
               count(*)     OVER (PARTITION BY cluster_id) AS n_members,
               sum(n_chars) OVER (PARTITION BY cluster_id) AS tot_chars
        FROM m
    )
    SELECT cluster_id,
           id AS canonical_doc_id,
           CAST(n_members AS BIGINT) AS n_members,
           CAST(tot_chars - n_chars AS BIGINT) AS dropped_chars
    FROM ranked WHERE rn = 1
    """,
)
def corpus_canonical_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end product of the dedup chain: one KEPT document per
    duplicate cluster (longest text wins, smallest id breaks ties)
    with the member count and the chars the cluster drops from the
    training corpus.  One window over the tiny (id, cluster) table
    joined to document lengths — singleton docs never enter the graph
    and are implicitly kept, so this emits only the clusters where
    dedup actually removes data."""
    comp = corpus_components(spark, sf_dir)
    d = load(spark, sf_dir, "documents").select("doc_id", "n_chars")
    m = comp.join(d, comp.id == d.doc_id).select("cluster_id", "id", "n_chars")
    w = Window.partitionBy("cluster_id")
    ranked = m.select(
        "cluster_id",
        "id",
        "n_chars",
        F.row_number()
        .over(w.orderBy(F.desc("n_chars"), F.asc("id")))
        .alias("rn"),
        F.count(F.lit(1)).over(w).alias("n_members"),
        F.sum("n_chars").over(w).alias("tot_chars"),
    )
    return ranked.where(F.col("rn") == 1).select(
        "cluster_id",
        F.col("id").alias("canonical_doc_id"),
        F.col("n_members").cast("long").alias("n_members"),
        (F.col("tot_chars") - F.col("n_chars")).cast("long").alias("dropped_chars"),
    )


def deterministic_split(
    df: DataFrame, id_col: str = "doc_id", cutoff_hex: str = VAL_HEX_CUTOFF
) -> DataFrame:
    """Add a ``split`` column ('val' below the md5 cutoff else 'train').

    The assignment depends only on the id value: stable under
    repartitioning, re-runs, engine changes, and corpus growth (new
    docs never flip old docs' split) — the property a training
    pipeline needs so later epochs/refreshes don't leak val into
    train.  ~cutoff/256 of docs land in val ('1a' → 26/256 ≈ 10.2%).
    """
    bucket = F.substring(F.md5(F.col(id_col).cast("string")), 1, 2)
    return df.withColumn(
        "split", F.when(bucket < cutoff_hex, F.lit("val")).otherwise(F.lit("train"))
    )


@query(
    "corpus_train_val_split",
    oracle=f"""
    SELECT CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '{VAL_HEX_CUTOFF}'
                THEN 'val' ELSE 'train' END AS split,
           lang,
           count(*)                 AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           min(doc_id)              AS min_doc_id
    FROM documents
    GROUP BY 1, 2
    """,
)
def corpus_train_val_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash split audited per language: doc counts and
    char volume per (split, lang) — the balance check run before
    training.  One scan, one exchange (the groupBy)."""
    d = deterministic_split(load(spark, sf_dir, "documents"))
    return d.groupBy("split", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.min("doc_id").alias("min_doc_id"),
    )


@query(
    "corpus_pack_sequences",
    oracle=f"""
    WITH toks AS (
        SELECT source, doc_id,
               len(string_split(text, ' ')) AS n_tok
        FROM documents
    ),
    packed AS (
        SELECT source, doc_id, n_tok,
               CAST(floor(
                   (sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
                                     ROWS UNBOUNDED PRECEDING) - n_tok)
                   / {CONTEXT_TOKENS}.0) AS BIGINT) AS window_id
        FROM toks
    )
    SELECT source, window_id,
           count(*)                  AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS window_tokens
    FROM packed
    GROUP BY source, window_id
    """,
)
def corpus_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for training: documents are laid end-to-end in
    deterministic (source, doc_id) order and assigned to fixed
    CONTEXT_TOKENS-sized windows by their start offset (offset // C).
    Expressed as a window cumsum — one shuffle on source, no UDF; at
    100 TB each source partition packs independently.  Output is the
    per-window fill profile (doc count + token count), the input a
    dataloader needs to budget padding."""
    d = load(spark, sf_dir, "documents")
    n_tok = F.size(F.split(F.col("text"), " "))
    w = Window.partitionBy("source").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    toks = d.select("source", "doc_id", n_tok.alias("n_tok"))
    packed = toks.select(
        "source",
        "n_tok",
        F.floor((F.sum("n_tok").over(w) - F.col("n_tok")) / float(CONTEXT_TOKENS))
        .alias("window_id"),
    )
    return packed.groupBy("source", "window_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").cast("long").alias("window_tokens"),
    )


# ---------------------------------------------------------------------------
# Quality funnel + embedding profile
# ---------------------------------------------------------------------------

MIN_CHARS, MAX_CHARS = 200, 20000
MIN_TOKENS = 20
MIN_UNIQ_RATIO = 0.3


@query(
    "corpus_quality_funnel",
    oracle=f"""
    WITH t AS (
        SELECT n_chars,
               len(string_split(text, ' ')) AS n_tok,
               len(list_distinct(string_split(text, ' '))) AS n_uniq
        FROM documents
    )
    SELECT count(*) AS n_total,
           CAST(sum(CASE WHEN n_chars BETWEEN {MIN_CHARS} AND {MAX_CHARS}
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_len_ok,
           CAST(sum(CASE WHEN n_chars BETWEEN {MIN_CHARS} AND {MAX_CHARS}
                          AND n_tok >= {MIN_TOKENS}
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_tok_ok,
           CAST(sum(CASE WHEN n_chars BETWEEN {MIN_CHARS} AND {MAX_CHARS}
                          AND n_tok >= {MIN_TOKENS}
                          AND n_uniq::DOUBLE / n_tok >= {MIN_UNIQ_RATIO}
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_survivors
    FROM t
    """,
)
def corpus_quality_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The filter-funnel report every corpus pipeline publishes: how
    many documents survive each successive quality gate (length, token
    count, lexical diversity).  One scan, one scalar aggregate — at
    100 TB this is the cheapest possible full-corpus audit (no
    shuffle; partial aggregation reduces each task to three longs)."""
    d = load(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    n_tok = F.size(toks)
    n_uniq = F.size(F.array_distinct(toks))
    len_ok = F.col("n_chars").between(MIN_CHARS, MAX_CHARS)
    tok_ok = len_ok & (n_tok >= MIN_TOKENS)
    div_ok = tok_ok & (n_uniq.cast("double") / n_tok >= MIN_UNIQ_RATIO)
    as_cnt = lambda c, name: F.sum(F.when(c, 1).otherwise(0)).cast("long").alias(name)  # noqa: E731
    return d.agg(
        F.count(F.lit(1)).alias("n_total"),
        as_cnt(len_ok, "n_len_ok"),
        as_cnt(tok_ok, "n_tok_ok"),
        as_cnt(div_ok, "n_survivors"),
    )


@query(
    "embedding_norm_profile",
    oracle="""
    SELECT CAST(vec_id % 8 AS BIGINT) AS shard,
           count(*) AS n_vecs,
           round(avg(sqrt(list_sum(list_transform(embedding,
                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 6) AS avg_l2,
           round(min(sqrt(list_sum(list_transform(embedding,
                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 6) AS min_l2,
           round(max(sqrt(list_sum(list_transform(embedding,
                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 6) AS max_l2
    FROM embeddings
    GROUP BY 1
    """,
)
def embedding_norm_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2-norm distribution of the embedding column per id shard — the
    sanity check run before any cosine-based op (unnormalized vectors
    silently break cosine-as-dot-product shortcuts).  The norm is a
    higher-order-function fold over the array (JVM-side, no UDF);
    element order is the array order in both engines, so the double
    accumulation is bit-identical."""
    e = load(spark, sf_dir, "embeddings")
    l2 = F.sqrt(
        F.aggregate(
            "embedding",
            F.lit(0.0),
            lambda acc, x: acc + x.cast("double") * x.cast("double"),
        )
    )
    return (
        e.select((F.col("vec_id") % 8).alias("shard"), l2.alias("l2"))
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.round(F.avg("l2"), 6).alias("avg_l2"),
            F.round(F.min("l2"), 6).alias("min_l2"),
            F.round(F.max("l2"), 6).alias("max_l2"),
        )
    )


# ---------------------------------------------------------------------------
# Stratified sampling
# ---------------------------------------------------------------------------

# per-language keep rates expressed as 2-hex-digit md5 cutoffs
# (cutoff/256 ≈ rate): downsample the dominant language, keep the rest.
# 'zz' compares above every hex pair => keep-all (a 'ff' cutoff would
# silently drop the 1/256 of rows whose bucket IS 'ff')
STRATA_CUTOFFS = {"en": "80", "de": "zz", "es": "zz", "fr": "zz", "zh": "c0"}
DEFAULT_CUTOFF = "zz"


def stratified_sample(
    df: DataFrame,
    strata_col: str = "lang",
    id_col: str = "doc_id",
    cutoffs: dict[str, str] | None = None,
) -> DataFrame:
    """Deterministic per-stratum downsampling via the same md5-keyed
    coin as ``deterministic_split`` — ~cutoff/256 of each stratum is
    kept, membership depends only on the id, and the sample composes
    with the train/val split (independent hash inputs: the sample key
    is salted with 's:').  No shuffle: a per-row filter expression.
    """
    cutoffs = STRATA_CUTOFFS if cutoffs is None else cutoffs
    bucket = F.substring(F.md5(F.concat(F.lit("s:"), F.col(id_col).cast("string"))), 1, 2)
    cutoff = F.lit(DEFAULT_CUTOFF)
    for k, v in sorted(cutoffs.items()):
        cutoff = F.when(F.col(strata_col) == k, F.lit(v)).otherwise(cutoff)
    return df.where(bucket < cutoff)


def _sql_cutoff_case(strata_col: str) -> str:
    branches = "\n".join(
        f"           WHEN {strata_col} = '{k}' THEN '{v}'"
        for k, v in sorted(STRATA_CUTOFFS.items())
    )
    return f"CASE\n{branches}\n           ELSE '{DEFAULT_CUTOFF}' END"


@query(
    "corpus_stratified_sample",
    oracle=f"""
    SELECT lang,
           count(*) AS n_kept,
           CAST(sum(n_chars) AS BIGINT) AS kept_chars,
           min(doc_id) AS min_doc_id
    FROM documents
    WHERE substr(md5('s:' || CAST(doc_id AS VARCHAR)), 1, 2)
          < {_sql_cutoff_case("lang")}
    GROUP BY lang
    """,
)
def corpus_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-rebalancing audit: deterministic per-language keep
    rates (~50% en, ~75% zh, 100% others) with per-stratum counts of
    the surviving corpus.  Filter is map-side; the only exchange is
    the audit groupBy."""
    d = stratified_sample(load(spark, sf_dir, "documents"))
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.sum("n_chars").alias("kept_chars"),
        F.min("doc_id").alias("min_doc_id"),
    )


# ---------------------------------------------------------------------------
# Benchmark decontamination
# ---------------------------------------------------------------------------

# Stand-in eval set: every 97th document plays the "benchmark" corpus.
# In production this is the actual eval/benchmark table; the shape of
# the computation is identical.
DECON_MOD = 97
DECON_MIN_OVERLAP = 3


def decontaminate_pairs(
    train_sh: DataFrame, eval_sh: DataFrame, min_overlap: int = DECON_MIN_OVERLAP
) -> DataFrame:
    """Training documents sharing >= ``min_overlap`` word-3-gram
    shingles with ANY benchmark document (the n-gram-overlap
    decontamination rule used before pretraining runs).

    Shape: explode both sides to (doc, shingle), equi-join on the
    shingle, count per training doc.  The eval side is tiny relative
    to the corpus (benchmarks are KBs-to-MBs against 100 TB), so its
    distinct shingle set is broadcast — the training corpus never
    shuffles; the only exchange is the per-doc overlap count, keyed by
    doc_id (no hot keys by construction).
    """
    ev = (
        eval_sh.select(F.explode("shingles").alias("s"))
        .distinct()
    )
    tr = train_sh.select("doc_id", F.explode("shingles").alias("s"))
    # per-doc shingle arrays are distinct already (shingles_expr), so
    # a plain count after the join is the distinct-overlap count
    return (
        tr.join(F.broadcast(ev), "s")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_overlap"))
        .where(F.col("n_overlap") >= min_overlap)
    )


@query(
    "corpus_decontaminate",
    oracle=f"""
    WITH sh AS (
        SELECT doc_id, unnest({duckdb_shingles_sql(3)}) AS s FROM documents
    ),
    ev AS (SELECT DISTINCT s FROM sh WHERE doc_id % {DECON_MOD} = 0),
    tr AS (SELECT doc_id, s FROM sh WHERE doc_id % {DECON_MOD} <> 0)
    SELECT tr.doc_id, count(*) AS n_overlap
    FROM tr JOIN ev USING (s)
    GROUP BY tr.doc_id
    HAVING count(*) >= {DECON_MIN_OVERLAP}
    """,
)
def corpus_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training docs contaminated by the (stand-in) benchmark set —
    the pre-training decontamination pass.  Reuses the session-cached
    shingle materialization shared with the dedup family."""
    sh = corpus_shingle_sets(spark, sf_dir)
    return decontaminate_pairs(
        sh.where(F.col("doc_id") % DECON_MOD != 0),
        sh.where(F.col("doc_id") % DECON_MOD == 0),
    )


# ---------------------------------------------------------------------------
# Deterministic global shuffle
# ---------------------------------------------------------------------------

SHUFFLE_SALT = "shuffle:"
SHUFFLE_PROBE = 100


def shuffle_key(id_col: str = "doc_id", salt: str = SHUFFLE_SALT) -> F.Column:
    """Reshuffle-stable global training order: md5(salt || id).  Any
    engine can recompute the permutation (same property as
    ``deterministic_split``); changing the salt is a fresh epoch
    permutation.  At 100 TB the order is MATERIALIZED by
    ``repartitionByRange(skey).sortWithinPartitions(skey)`` — a range
    shuffle, no global sort barrier; readers stream partitions in
    range order."""
    return F.md5(F.concat(F.lit(salt), F.col(id_col).cast("string")))


@query(
    "corpus_global_shuffle",
    oracle=f"""
    SELECT doc_id, skey, CAST(rn AS INTEGER) AS shuffle_pos FROM (
        SELECT doc_id,
               md5('{SHUFFLE_SALT}' || CAST(doc_id AS VARCHAR)) AS skey,
               row_number() OVER (
                   ORDER BY md5('{SHUFFLE_SALT}' || CAST(doc_id AS VARCHAR)),
                            doc_id) AS rn
        FROM documents)
    WHERE rn <= {SHUFFLE_PROBE}
    """,
)
def corpus_global_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First ``SHUFFLE_PROBE`` documents of the deterministic global
    training shuffle.  The probe is a scale-safe top-k
    (TakeOrderedAndProject: per-partition heap + driver merge — no
    global sort), then positions are numbered inside the k-row result;
    the full-corpus materialization path is documented on
    ``shuffle_key``."""
    d = load_spread(spark, sf_dir, "documents")
    top = (
        d.select("doc_id", shuffle_key().alias("skey"))
        .orderBy("skey", "doc_id")
        .limit(SHUFFLE_PROBE)
    )
    w = Window.orderBy("skey", "doc_id")
    return top.select(
        "doc_id", "skey", F.row_number().over(w).alias("shuffle_pos")
    )


# ---------------------------------------------------------------------------
# Mixture planning
# ---------------------------------------------------------------------------

# target token share per source-group of the training mixture; the
# src0..src19 corpus is grouped coarsely (the grouping itself is
# arbitrary demo policy — the OPERATOR is the point: exact token
# accounting + deterministic per-source keep rates).
MIXTURE_WEIGHTS = {"web": 0.5, "books": 0.3, "code": 0.2}


def _source_group(col):
    n = F.substring(col, 4, 10).cast("int")
    return (
        F.when(n < 10, F.lit("web")).when(n < 15, F.lit("books")).otherwise(F.lit("code"))
    )


@query(
    "corpus_mixture",
    oracle=f"""
    WITH toks AS (
        SELECT source,
               CASE WHEN CAST(substr(source, 4) AS INTEGER) < 10 THEN 'web'
                    WHEN CAST(substr(source, 4) AS INTEGER) < 15 THEN 'books'
                    ELSE 'code' END AS grp,
               len(string_split(text, ' ')) AS n_tok
        FROM documents
    ),
    per_src AS (
        SELECT grp, source, count(*) AS n_docs,
               CAST(sum(n_tok) AS BIGINT) AS src_tokens
        FROM toks GROUP BY grp, source
    ),
    with_totals AS (
        SELECT *,
               sum(src_tokens) OVER (PARTITION BY grp) AS group_tokens,
               sum(src_tokens) OVER ()                 AS total_tokens,
               CASE grp WHEN 'web' THEN {MIXTURE_WEIGHTS['web']}
                        WHEN 'books' THEN {MIXTURE_WEIGHTS['books']}
                        ELSE {MIXTURE_WEIGHTS['code']} END AS target_share
        FROM per_src
    )
    SELECT source, grp, n_docs, src_tokens,
           CAST(group_tokens AS BIGINT) AS group_tokens,
           round(least(1.0, target_share * total_tokens / group_tokens), 6)
               AS keep_rate,
           round(src_tokens
                 * round(least(1.0, target_share * total_tokens / group_tokens), 6),
                 3) AS expected_tokens
    FROM with_totals
    """,
)
def corpus_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget mixture planning: exact per-source token counts,
    per-group totals, and the deterministic keep-rate each source needs
    so group token shares hit ``MIXTURE_WEIGHTS`` (uniform sampling
    within a group, upsampling capped at 1.0).  The keep rates feed the
    same md5-coin sampler as ``stratified_sample``.

    Plan shape: one scan computing token counts (JVM ``size(split())``,
    no UDF), one groupBy(grp, source) — the per-group/global totals run
    as windows over the ~|sources| aggregate rows, which is a
    dimension-sized relation at any corpus scale (sources are bounded;
    docs are not), so the second stage is effectively free at 100 TB."""
    d = load_spread(spark, sf_dir, "documents")
    per_src = (
        d.select(
            "source",
            _source_group(F.col("source")).alias("grp"),
            F.size(F.split(F.col("text"), " ")).alias("n_tok"),
        )
        .groupBy("grp", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").cast("long").alias("src_tokens"),
        )
    )
    wg = Window.partitionBy("grp")
    wall = Window.partitionBy()
    target = (
        F.when(F.col("grp") == "web", F.lit(MIXTURE_WEIGHTS["web"]))
        .when(F.col("grp") == "books", F.lit(MIXTURE_WEIGHTS["books"]))
        .otherwise(F.lit(MIXTURE_WEIGHTS["code"]))
    )
    with_totals = per_src.select(
        "source",
        "grp",
        "n_docs",
        "src_tokens",
        F.sum("src_tokens").over(wg).cast("long").alias("group_tokens"),
        F.sum("src_tokens").over(wall).cast("long").alias("total_tokens"),
        target.alias("target_share"),
    )
    keep = F.round(
        F.least(
            F.lit(1.0),
            F.col("target_share") * F.col("total_tokens") / F.col("group_tokens"),
        ),
        6,
    )
    return with_totals.select(
        "source",
        "grp",
        "n_docs",
        "src_tokens",
        "group_tokens",
        keep.alias("keep_rate"),
        F.round(F.col("src_tokens") * keep, 3).alias("expected_tokens"),
    )


def weighted_sample(
    df: DataFrame, weight_col: str, k: int, id_col: str = "doc_id", seed: int = 0
) -> DataFrame:
    """Weighted random sampling without replacement (Efraimidis-
    Spirakis A-ES): each row draws u from a seeded md5 hash of its id
    and ranks by u^(1/w) — the top-k by that key is a weighted sample
    whose inclusion probabilities respect the weights.

    Fully deterministic (the 'randomness' is the keyed hash, so the
    sample is reproducible across runs, partitionings and engines up
    to libm), and shuffle-free: the key is a per-row expression and
    the top-k plans as TakeOrderedAndProject (per-partition heap +
    driver merge of k rows) — the same scale shape as every other
    top-k on the surface.  Exposed rows-only (pow/ln are libm-
    dependent across engines, so a DuckDB oracle could flip the cut
    line on near-tied keys); determinism and weight-bias are pinned
    in tests/test_corpus.py.
    """
    # u in (0, 1]: 52 hex bits of md5 -> uniform; +1 avoids u == 0
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(f"w{seed}:"), F.col(id_col).cast("string"))),
                1,
                13,
            ),
            16,
            10,
        ).cast("double")
        + F.lit(1.0)
    ) / F.lit(float(16**13 + 1))
    key = F.pow(u, F.lit(1.0) / F.col(weight_col).cast("double"))
    return (
        df.where(F.col(weight_col) > 0)
        .withColumn("_aes_key", key)
        .orderBy(F.col("_aes_key").desc(), F.col(id_col))
        .limit(k)
        .drop("_aes_key")
    )


@query("corpus_weighted_sample", oracle=golden_oracle("corpus_weighted_sample", "doc_id, lang, source, n_chars"))
def corpus_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-weighted doc selection: sample 100 documents with
    inclusion probability proportional to length (n_chars as the
    quality-weight stand-in) — the mixture-building primitive that
    up-weights high-value sources without a hard filter.  See
    ``weighted_sample`` for the A-ES construction and why this entry
    is rows-only."""
    d = load_spread(spark, sf_dir, "documents")
    return weighted_sample(d, "n_chars", 100).select(
        "doc_id", "lang", "source", "n_chars"
    )


# ---------------------------------------------------------------------------
# Sub-document chunk dedup (C4-style cross-document repetition removal)
# ---------------------------------------------------------------------------

CHUNK_W = 10  # tokens per chunk


@query(
    "corpus_chunk_dedup",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, string_split(text, ' ') AS ws FROM documents
    ),
    chunks AS (
        SELECT doc_id,
               CAST(i AS BIGINT) AS ci,
               array_to_string(
                   ws[i * {CHUNK_W} + 1 : i * {CHUNK_W} + {CHUNK_W}],
                   ' ') AS chunk,
               n_chunks
        FROM (
            SELECT doc_id, ws,
                   CAST(ceil(len(ws) / {CHUNK_W}.0) AS BIGINT) AS n_chunks,
                   unnest(range(0, CAST(ceil(len(ws) / {CHUNK_W}.0)
                                        AS BIGINT))) AS i
            FROM t
        )
    ),
    hot AS (
        SELECT chunk FROM chunks
        GROUP BY chunk HAVING count(DISTINCT doc_id) >= 2
    ),
    kept AS (
        SELECT * FROM chunks
        WHERE chunk NOT IN (SELECT chunk FROM hot)
    )
    SELECT doc_id,
           max(n_chunks)             AS n_chunks,
           count(*)                  AS n_kept,
           max(n_chunks) - count(*)  AS n_dropped,
           md5(string_agg(chunk, ' ' ORDER BY ci)) AS cleaned_md5
    FROM kept GROUP BY doc_id
    """,
)
def corpus_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-document dedup at fixed {CHUNK_W}-token chunk granularity:
    drop every chunk that appears verbatim in >= 2 DISTINCT documents,
    then reassemble what is left of each document — the C4 'repeated
    span' rule (there, three-sentence spans; this corpus has no
    sentence boundaries, so fixed token windows stand in).  Whole-
    document dedup (dedup_exact / minhash) misses a boilerplate span
    shared by otherwise-different pages; this operator is the
    complementary pass real pretraining pipelines run.

    Plan: chunking is a per-row higher-order expression (slice over
    the token array — no shuffle), the hot-chunk set is one
    count-distinct aggregate on the chunk text (the only fact-sized
    exchange, and chunk rows are ~n_tokens/{CHUNK_W} per doc, smaller
    than the token explosion a per-token design would pay), removal is
    a LEFT ANTI join against that set, and reassembly is a sorted
    collect per doc.  At 100 TB the hot set is tiny (hotness needs
    cross-document repetition) so the anti join broadcasts under AQE;
    nothing here is all-pairs.  Output pins the exact surviving bytes
    via md5 of the in-order reassembly, not just counts.  Documents
    whose every chunk is boilerplate drop out entirely (inner
    semantics on both sides)."""
    d = load_spread(spark, sf_dir, "documents")
    w = CHUNK_W
    chunk_arr = F.expr(
        f"""
        transform(
            sequence(0, cast(ceil(size(split(text, ' ')) / {w}.0) as int) - 1),
            i -> concat_ws(' ', slice(split(text, ' '), i * {w} + 1, {w})))
        """
    )
    # r14 single-pass shape: the before-plan scanned+chunked the
    # corpus THREE times (hot-set aggregate, anti-join left side,
    # n_chunks) and removed hot chunks with an anti join.  Now the
    # chunk rows carry the doc's total chunk count (size of the same
    # array — free in-row), per-(chunk, doc) occurrences collapse
    # first (state bounded by WITHIN-doc repetition of one chunk, so
    # no hot-key blowup), and hotness (>= 2 DISTINCT docs) is a count
    # over the chunk-partitioned window of those collapsed rows —
    # 1 corpus pass, no join.  Doc-total carried in the keys keeps
    # the all-chunks-hot dropout semantics (no surviving rows == no
    # output row, exactly the old inner join).
    chunks = d.select(
        "doc_id",
        F.expr(f"cast(ceil(size(split(text, ' ')) / {w}.0) as bigint)").alias(
            "n_chunks"
        ),
        F.posexplode(chunk_arr).alias("ci", "chunk"),
    ).withColumn("ci", F.col("ci").cast("long"))
    per_cd = chunks.groupBy("chunk", "doc_id", "n_chunks").agg(
        F.collect_list("ci").alias("cis")
    )
    wc = Window.partitionBy("chunk")
    kept = (
        per_cd.withColumn("nd", F.count(F.lit(1)).over(wc))
        .where(F.col("nd") < 2)
        .select(
            "doc_id", "n_chunks", F.explode("cis").alias("ci"), "chunk"
        )
    )
    return (
        kept.groupBy("doc_id", "n_chunks")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.md5(
                F.array_join(
                    F.transform(
                        F.array_sort(
                            F.collect_list(F.struct("ci", "chunk"))
                        ),
                        lambda s: s.getField("chunk"),
                    ),
                    " ",
                )
            ).alias("cleaned_md5"),
        )
        .select(
            "doc_id",
            "n_chunks",
            "n_kept",
            (F.col("n_chunks") - F.col("n_kept")).alias("n_dropped"),
            "cleaned_md5",
        )
    )


# ---------------------------------------------------------------------------
# Per-source quota capping (language/source balance enforcement)
# ---------------------------------------------------------------------------

QUOTA_PER_SOURCE = 40
QUOTA_SALT = "quota:"


@query(
    "corpus_source_quota",
    oracle=f"""
    WITH ranked AS (
        SELECT doc_id, source, n_chars,
               row_number() OVER (
                   PARTITION BY source
                   ORDER BY md5('{QUOTA_SALT}' || CAST(doc_id AS VARCHAR)),
                            doc_id) AS rk
        FROM documents
    )
    SELECT source,
           count(*)                                   AS n_kept,
           CAST(sum(n_chars) AS BIGINT)               AS kept_chars,
           CAST(sum(CASE WHEN rk = 1 THEN doc_id ELSE 0 END)
                AS BIGINT)                            AS first_doc_id
    FROM ranked
    WHERE rk <= {QUOTA_PER_SOURCE}
    GROUP BY source
    """,
)
def corpus_source_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard per-source document quota (keep at most N docs per source,
    chosen by a salted-hash lottery) — the over-represented-domain cap
    every web-scale mixture applies after soft mixture weighting
    (corpus_mixture) still leaves a head domain too big.  The lottery
    key is md5(salt||doc_id): deterministic across runs/engines,
    uncorrelated with the shuffle and split keys (different salt), and
    growth-stable (adding documents never changes the relative order
    of existing ones, so an incremental re-run keeps the same winners
    until the quota line actually moves).

    One shuffle (window partitioned by source).  A skewed head source
    concentrates its rows on one task at 100 TB; the documented fix
    for that shape is a two-phase cap — per-partition pre-cap to N
    within each map task (any N-subset is a valid lottery prefix
    candidate superset), then the exact window on survivors — the
    same pre-aggregation idea hash aggregates already apply.  Output
    aggregates per source (count, chars, rank-1 winner) so the oracle
    pins both membership and the lottery ORDER without exporting
    per-row hashes."""
    d = load_spread(spark, sf_dir, "documents")
    rk = F.row_number().over(
        Window.partitionBy("source").orderBy(
            F.md5(F.concat(F.lit(QUOTA_SALT), F.col("doc_id").cast("string"))),
            "doc_id",
        )
    )
    return (
        d.select("doc_id", "source", "n_chars", rk.alias("rk"))
        .where(F.col("rk") <= QUOTA_PER_SOURCE)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum("n_chars").cast("long").alias("kept_chars"),
            F.sum(F.when(F.col("rk") == 1, F.col("doc_id")).otherwise(0))
            .cast("long")
            .alias("first_doc_id"),
        )
    )


# ---------------------------------------------------------------------------
# Incremental dedup: new batch vs historical corpus index
# ---------------------------------------------------------------------------

INCR_SPLIT_ID = 400  # doc_id < split -> "historical corpus"; >= -> "new batch"


@query(
    "dedup_incremental",
    oracle=f"""
    WITH hist AS (
        SELECT DISTINCT md5(lower(trim(text))) AS h
        FROM documents WHERE doc_id < {INCR_SPLIT_ID}
    ),
    batch AS (
        SELECT doc_id, md5(lower(trim(text))) AS h
        FROM documents WHERE doc_id >= {INCR_SPLIT_ID}
    ),
    first_in_batch AS (
        SELECT doc_id, h,
               row_number() OVER (PARTITION BY h ORDER BY doc_id) AS rk
        FROM batch
    )
    SELECT f.doc_id,
           CASE WHEN hist.h IS NOT NULL THEN 'dup_of_corpus'
                WHEN f.rk > 1            THEN 'dup_in_batch'
                ELSE 'new' END AS status
    FROM first_in_batch f
    LEFT JOIN hist ON f.h = hist.h
    """,
)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental exact dedup — the shape every DAILY ingest actually
    runs: a new batch is checked against the already-deduped corpus
    index (here: normalized-text md5 digests of docs below the split
    id) and against itself, and each new document is labeled
    new / dup_of_corpus / dup_in_batch.  Batch-internal ties keep the
    lowest doc_id (first_in_batch window), mirroring dedup_exact's
    canonical-pick rule.

    Scale shape: the historical index at 100 TB is a digest TABLE
    (32 B/doc — the dedup_exact output re-read from its sink), never
    the corpus itself; the day's batch is orders of magnitude smaller
    than the index, so the join shuffles the SMALL side fully and only
    the matching digest partitions of the index (dynamic partition
    pruning on the digest prefix if the index is bucketed by it — the
    layout bucketing.py establishes).  Within-batch dedup is one
    window over the batch alone.  Labels (not just survivors) come
    out so the audit trail the reference's quarantine pattern keeps
    for parse failures exists for dedup drops too."""
    d = load_spread(spark, sf_dir, "documents")
    h = F.md5(F.lower(F.trim(F.col("text"))))
    hist = (
        d.where(F.col("doc_id") < INCR_SPLIT_ID)
        .select(h.alias("h"))
        .distinct()
        .withColumn("_in_hist", F.lit(1))
    )
    batch = d.where(F.col("doc_id") >= INCR_SPLIT_ID).select(
        "doc_id", h.alias("h")
    )
    rk = F.row_number().over(
        Window.partitionBy("h").orderBy("doc_id")
    )
    return (
        batch.withColumn("rk", rk)
        .join(hist, "h", "left")
        .select(
            "doc_id",
            F.when(F.col("_in_hist").isNotNull(), "dup_of_corpus")
            .when(F.col("rk") > 1, "dup_in_batch")
            .otherwise("new")
            .alias("status"),
        )
    )


# ---------------------------------------------------------------------------
# Composed end-to-end pipeline funnel (integration of the r4 stages)
# ---------------------------------------------------------------------------

FUNNEL_MIN_WORDS = 30
FUNNEL_MAX_DUP = 0.6
FUNNEL_QUOTA = 10


@query(
    "corpus_pipeline_funnel",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, source, string_split(text, ' ') AS ws FROM documents
    ),
    s1 AS (SELECT * FROM t WHERE len(ws) >= {FUNNEL_MIN_WORDS}),
    s2 AS (SELECT * FROM s1
           WHERE 1.0 - len(list_distinct(ws))::DOUBLE / len(ws)
                 <= {FUNNEL_MAX_DUP}),
    chunks AS (
        SELECT doc_id,
               array_to_string(ws[i * 10 + 1 : i * 10 + 10], ' ') AS chunk
        FROM (SELECT doc_id, ws,
                     unnest(range(0, CAST(ceil(len(ws) / 10.0) AS BIGINT)))
                         AS i
              FROM s2)
    ),
    hot AS (SELECT chunk FROM chunks
            GROUP BY chunk HAVING count(DISTINCT doc_id) >= 2),
    s3 AS (SELECT DISTINCT doc_id FROM chunks
           WHERE chunk NOT IN (SELECT chunk FROM hot)),
    s3d AS (SELECT s2.* FROM s2 JOIN s3 USING (doc_id)),
    s4 AS (
        SELECT * FROM (
            SELECT doc_id, source,
                   row_number() OVER (
                       PARTITION BY source
                       ORDER BY md5('quota:' || CAST(doc_id AS VARCHAR)),
                                doc_id) AS rk
            FROM s3d)
        WHERE rk <= {FUNNEL_QUOTA}
    )
    SELECT stage, n_docs FROM (
        SELECT '00_all' AS stage, count(*) AS n_docs FROM t
        UNION ALL SELECT '10_min_words', count(*) FROM s1
        UNION ALL SELECT '20_repetition', count(*) FROM s2
        UNION ALL SELECT '30_chunk_dedup', count(*) FROM s3d
        UNION ALL SELECT '40_source_quota', count(*) FROM s4
    )
    """,
)
def corpus_pipeline_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPOSED corpus pipeline, stage survival per gate: length
    filter -> repetition filter -> sub-document chunk dedup (hot set
    computed over the survivors, as a real sequenced pipeline would)
    -> per-source quota.  Each stage is the registry operator applied
    to the previous stage's survivors, so this row proves the
    extension plane COMPOSES — same thresholds families, same salt as
    corpus_source_quota, same chunk width as corpus_chunk_dedup.

    Plan: the two text gates fuse into one scan (pure row-local
    expressions); chunk dedup adds its one count-distinct exchange +
    anti join; the quota adds its one window.  Every stage's exchange
    runs over the (shrinking) survivor set — the funnel's cost profile
    is monotone decreasing, which is exactly why real pipelines order
    cheap row-local gates first.  At 100 TB the chain is 3 shuffles
    total over progressively smaller data."""
    d = load_spread(spark, sf_dir, "documents")
    ws = F.split(F.col("text"), " ")
    base = d.select("doc_id", "source", ws.alias("ws"))
    # r14: the two row-local gates become FLAGS computed in one pass,
    # so the three leading funnel counters (all / min_words /
    # repetition) come out of ONE whole-row aggregate instead of three
    # separate scan+count subtrees — the before-plan scanned the
    # corpus five times for five counters (plans/r14/
    # corpus_pipeline_funnel_before.txt: 21 exchanges).  The chunk-
    # dedup and quota stages still run over the survivor relation
    # exactly as before; their two counters collapse the same way.
    p1 = F.size("ws") >= FUNNEL_MIN_WORDS
    p2 = (
        F.lit(1.0)
        - F.size(F.array_distinct("ws")).cast("double") / F.size("ws")
        <= FUNNEL_MAX_DUP
    )
    flagged = base.select(
        "doc_id", "source", "ws", p1.alias("p1"), (p1 & p2).alias("p2")
    )
    early = flagged.agg(
        F.count(F.lit(1)).alias("n_all"),
        F.count(F.when(F.col("p1"), 1)).alias("n_s1"),
        F.count(F.when(F.col("p2"), 1)).alias("n_s2"),
    )
    s2 = flagged.where(F.col("p2")).select("doc_id", "source", "ws")
    w = CHUNK_W
    chunk_arr = F.expr(
        f"""
        transform(sequence(0, cast(ceil(size(ws) / {w}.0) as int) - 1),
                  i -> concat_ws(' ', slice(ws, i * {w} + 1, {w})))
        """
    )
    chunks = s2.select("doc_id", F.explode(chunk_arr).alias("chunk"))
    hot = (
        chunks.groupBy("chunk")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .where(F.col("nd") >= 2)
        .select("chunk")
    )
    s3_ids = (
        chunks.join(hot, "chunk", "left_anti").select("doc_id").distinct()
    )
    s3 = s2.join(s3_ids, "doc_id")
    rk = F.row_number().over(
        Window.partitionBy("source").orderBy(
            F.md5(F.concat(F.lit(QUOTA_SALT), F.col("doc_id").cast("string"))),
            "doc_id",
        )
    )
    late = s3.withColumn("rk", rk).agg(
        F.count(F.lit(1)).alias("n_s3"),
        F.count(F.when(F.col("rk") <= FUNNEL_QUOTA, 1)).alias("n_s4"),
    )
    # two 1-row aggregates -> the five (stage, n_docs) rows
    return early.crossJoin(late).selectExpr(
        "stack(5, '00_all', n_all, '10_min_words', n_s1,"
        " '20_repetition', n_s2, '30_chunk_dedup', n_s3,"
        " '40_source_quota', n_s4) AS (stage, n_docs)"
    )


# ---------------------------------------------------------------------------
# Distributed PageRank (iterative) over the co-purchase part graph
# ---------------------------------------------------------------------------

PAGERANK_DAMPING = 0.85
PAGERANK_ITERS = 8
PAGERANK_TOPK = 20


def pagerank(edges: DataFrame, damping: float = PAGERANK_DAMPING,
             iters: int = PAGERANK_ITERS) -> DataFrame:
    """(node, rank) after ``iters`` synchronous power-iteration rounds
    over a weighted directed edge list (src, dst, w).

    The iterative-relational shape shared with connected_components:
    per round ONE join (ranks ⋈ normalized edges on src) and ONE
    dst-keyed aggregate, with ``localCheckpoint`` truncating lineage so
    Catalyst re-analysis cost stays O(1) per round instead of growing
    with the unrolled loop.  The normalized edge table is checkpointed
    once and reused every round — the only per-round state in motion is
    the (node, rank) table, two values per node.  A fixed iteration
    count keeps the loop deterministic and action-free (no per-round
    convergence count()); 8 rounds contract the power iteration by
    0.85⁸ ≈ 0.27 of the initial error, the usual ranking-stable point.

    No dangling-node correction is applied: callers pass edge lists
    where every node has out-edges (an undirected graph expanded to
    both directions, as the co-purchase query below does).
    """
    spark = edges.sparkSession
    out_w = edges.groupBy("src").agg(F.sum("w").alias("w_out"))
    norm = (
        edges.join(out_w, "src")
        .select("src", "dst", (F.col("w") / F.col("w_out")).alias("p"))
        .localCheckpoint()
    )
    # the rank table is two values per node — at test scale per-round
    # cost is task-launch latency, so keep it on few partitions; at
    # cluster scale callers size this with spark.sql.shuffle.partitions
    # (the joins repartition to the shuffle setting regardless)
    nodes = (
        norm.select(F.col("src").alias("node"))
        .distinct()
        .coalesce(8)
        .localCheckpoint()
    )
    n = nodes.count()
    base = (1.0 - damping) / n
    ranks = nodes.select("node", F.lit(1.0 / n).alias("rank"))
    for _ in range(iters):
        contrib = (
            norm.join(ranks, norm.src == ranks.node)
            .groupBy("dst")
            .agg(F.sum(F.col("p") * F.col("rank")).alias("inflow"))
        )
        nxt = nodes.join(
            contrib, nodes.node == contrib.dst, "left"
        ).select(
            "node",
            (
                F.lit(base)
                + F.lit(damping) * F.coalesce(F.col("inflow"), F.lit(0.0))
            ).alias("rank"),
        ).coalesce(8).localCheckpoint()
        ranks = nxt
    return ranks


@query("graph_pagerank", oracle=golden_oracle("graph_pagerank", "part, rank"), bench=False)
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank centrality of parts in the co-purchase graph (edge
    weight = number of orders containing both parts): which items sit
    at the center of basket structure — the graph-analytics capability
    beside connected components, and the canonical iterative workload
    a distributed engine must run without driver-side loops over data.

    Graph construction is the basket-bounded self-equi-join of
    ``lineitem_copurchase_pairs`` (never a cross join), expanded to
    both directions so every node has out-edges (no dangling mass).
    Then ``pagerank`` runs its action-free synchronous rounds.  Output:
    top-20 parts by rank.  Rows-only driver check (iterative float
    fixpoint is not SQL-expressible); pytest pins the distributed
    result against an exact single-node numpy power iteration of the
    same graph and the Σrank = 1 invariant.  bench=False: wall time at
    test scale is iterations × round latency (8 synchronous rounds), a
    constant the headline set would mis-read as data cost — the
    per-round plan (one join + one aggregate) is the thing that
    scales, and it is the same shape the benched
    dedup_connected_components already times.
    """
    items = (
        load(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a, b = items.alias("a"), items.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("x"), F.col("b.l_partkey").alias("y")
        )
        .agg(F.count(F.lit(1)).alias("w"))
    )
    edges = pairs.select(
        F.col("x").alias("src"), F.col("y").alias("dst"), "w"
    ).unionByName(
        pairs.select(F.col("y").alias("src"), F.col("x").alias("dst"), "w")
    )
    ranks = pagerank(edges)
    return (
        ranks.select(
            F.col("node").alias("part"), F.round("rank", 9).alias("rank")
        )
        .orderBy(F.desc("rank"), F.asc("part"))
        .limit(PAGERANK_TOPK)
    )


# ---------------------------------------------------------------------------
# Contrastive negative sampling
# ---------------------------------------------------------------------------

NEG_K = 4


@query(
    "corpus_negative_samples",
    oracle=f"""
    WITH n AS (SELECT count(*) AS cnt FROM documents),
    raws AS (
        SELECT d.doc_id, d.lang, j.neg_rank,
               ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR) || ':'
                                   || CAST(j.neg_rank AS VARCHAR)), 1, 15)
               )::BIGINT % (SELECT cnt FROM n) AS raw
        FROM documents d,
             (SELECT unnest(range({NEG_K})) AS neg_rank) j
    ),
    negs AS (
        SELECT doc_id, lang, neg_rank,
               CASE WHEN raw = doc_id
                    THEN (raw + 1) % (SELECT cnt FROM n)
                    ELSE raw END AS neg_doc_id
        FROM raws
    )
    SELECT g.doc_id, g.neg_rank, g.neg_doc_id,
           CAST(g.lang <> nd.lang AS INT) AS cross_lang
    FROM negs g JOIN documents nd ON nd.doc_id = g.neg_doc_id
    """,
)
def corpus_negative_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic contrastive negative sampling: K uniform negatives
    per anchor document via the md5 ring (hash of "doc_id:j" mod corpus
    size, +1 skip on self-collision) — the pair generator a contrastive
    embedding trainer feeds on.

    The md5-keyed draw is the same engine-portable determinism as
    deterministic_split: a doc's negatives never depend on
    partitioning, row order, or engine, and the oracle replays the
    identical arithmetic in SQL (hex-prefix→int is bit-equal across
    engines, verified both ways).  One fanout (explode K) + one
    equi-join to hydrate the negative's metadata; at 100 TB the join
    shuffles on neg_doc_id like any FK hydration.  Doc ids are dense
    [0, N) in this corpus; a sparse-id corpus inserts the standard
    rank-table indirection (zipWithIndex equivalent: row_number over a
    sort) before the ring."""
    docs = load(spark, sf_dir, "documents")
    n = docs.count()
    raw = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.col("doc_id").cast("string"),
                    F.lit(":"),
                    F.col("neg_rank").cast("string"),
                )
            ),
            1,
            15,
        ),
        16,
        10,
    ).cast("long") % F.lit(n)
    anchors = docs.select(
        "doc_id",
        "lang",
        F.explode(F.sequence(F.lit(0), F.lit(NEG_K - 1))).alias("neg_rank"),
    ).withColumn("raw", raw)
    negs = anchors.select(
        "doc_id",
        "lang",
        F.col("neg_rank").cast("long").alias("neg_rank"),
        F.when(F.col("raw") == F.col("doc_id"), (F.col("raw") + 1) % n)
        .otherwise(F.col("raw"))
        .alias("neg_doc_id"),
    )
    nd = docs.select(
        F.col("doc_id").alias("neg_doc_id"), F.col("lang").alias("neg_lang")
    )
    return negs.join(nd, "neg_doc_id").select(
        "doc_id",
        "neg_rank",
        "neg_doc_id",
        (F.col("lang") != F.col("neg_lang")).cast("int").alias("cross_lang"),
    )


# ---------------------------------------------------------------------------
# Overlapping context-window chunking (RAG / long-doc pretraining)
# ---------------------------------------------------------------------------

WIN_W = 64  # window size in whitespace tokens
WIN_O = 16  # overlap between consecutive windows


@query(
    "corpus_chunk_windows",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS t,
               len(string_split(text, ' ')) AS n
        FROM documents
    ),
    spans AS (
        SELECT doc_id, t, n,
               CASE WHEN n <= {WIN_W} THEN 1
                    ELSE CAST(ceil((n - {WIN_O})
                              / ({WIN_W} - {WIN_O}.0)) AS BIGINT)
               END AS k
        FROM toks
    ),
    ex AS (
        SELECT doc_id, t, n,
               unnest(range(k)) AS chunk_id
        FROM spans
    )
    SELECT doc_id,
           chunk_id,
           CAST(chunk_id * ({WIN_W} - {WIN_O}) AS BIGINT) AS start_tok,
           CAST(least(CAST({WIN_W} AS BIGINT),
                      n - chunk_id * ({WIN_W} - {WIN_O})) AS BIGINT)
               AS n_toks,
           array_to_string(
               list_slice(t,
                          chunk_id * ({WIN_W} - {WIN_O}) + 1,
                          chunk_id * ({WIN_W} - {WIN_O}) + {WIN_W}),
               ' ') AS chunk_text
    FROM ex
    """,
)
def corpus_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping context-window chunker: every document split into
    W={WIN_W}-token windows with O={WIN_O}-token overlap — the
    retrieval-indexing / long-document-pretraining splitter (each
    window carries its token offset so spans map back to the source).

    Chunk count per doc is ceil((n - O) / (W - O)) (one window for
    docs that fit), so consecutive windows share exactly O tokens and
    the final window is the only short one.  Pure JVM expression work:
    split once, explode a generated chunk-id sequence, slice per
    chunk — one scan, no shuffle, no UDF; the full chunk TEXT is
    hash-checked against DuckDB recomputing the identical slicing.
    At 100 TB this is the map-side fanout stage ahead of the
    embedding/index pipeline (fanout factor ≈ n/(W-O) per doc)."""
    s = WIN_W - WIN_O
    d = load(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("t")
    ).withColumn("n", F.size("t"))
    k = F.when(F.col("n") <= WIN_W, F.lit(1).cast("long")).otherwise(
        F.ceil((F.col("n") - F.lit(WIN_O)) / F.lit(float(s))).cast("long")
    )
    ex = d.withColumn("k", k).select(
        "doc_id",
        "t",
        "n",
        F.explode(F.expr("sequence(0, k - 1)")).alias("chunk_id"),
    )
    start = F.col("chunk_id") * s
    return ex.select(
        "doc_id",
        "chunk_id",
        start.cast("long").alias("start_tok"),
        F.least(F.lit(WIN_W).cast("long"), (F.col("n") - start).cast("long")).alias(
            "n_toks"
        ),
        F.concat_ws(
            " ", F.slice(F.col("t"), start + 1, F.lit(WIN_W))
        ).alias("chunk_text"),
    )


# ---------------------------------------------------------------------------
# shard manifest — balanced output sharding for training dataloaders
# ---------------------------------------------------------------------------

N_SHARDS = 16


@query(
    "corpus_shard_manifest",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, len(string_split(text, ' ')) AS n_tokens FROM documents
    ), r AS (
      SELECT doc_id, n_tokens,
             row_number() OVER (ORDER BY n_tokens DESC, doc_id) AS rn
      FROM t
    )
    SELECT (rn - 1) % {N_SHARDS} AS shard_id,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS shard_tokens,
           CAST(max(n_tokens) AS BIGINT) AS max_doc_tokens,
           CAST(min(n_tokens) AS BIGINT) AS min_doc_tokens
    FROM r GROUP BY shard_id
    """,
)
def corpus_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Balanced shard manifest: documents dealt round-robin over the
    size-DESC order, so every shard's token total lands within one
    max-document of the mean (the greedy longest-processing-time
    bound) — the deterministic layout a training dataloader wants.

    Scale shape: the only global step is the exact distributed
    row_number (range shuffle + per-partition windows + an
    n_partitions-long offset collect — functions/ranks.py); the deal
    and the per-shard rollup are one map-side-combined groupBy.  No
    single-task global window anywhere.
    """
    from ..functions.ranks import with_global_row_number

    t = load_spread(spark, sf_dir, "documents").select(
        "doc_id", F.size(F.split("text", " ")).alias("n_tokens")
    )
    ranked = with_global_row_number(
        t, [F.col("n_tokens").desc(), F.col("doc_id").asc()], out_col="rn"
    )
    return (
        ranked.withColumn(
            "shard_id", ((F.col("rn") - 1) % N_SHARDS).cast("long")
        )
        .groupBy("shard_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("shard_tokens"),
            F.max("n_tokens").alias("max_doc_tokens"),
            F.min("n_tokens").alias("min_doc_tokens"),
        )
    )


# ---------------------------------------------------------------------------
# DSIR: data selection via importance resampling (Xie et al., 2023)
# ---------------------------------------------------------------------------

DSIR_TOP_K = 25


@query(
    "corpus_dsir_selection",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, lang, unnest(string_split(text, ' ')) AS term
        FROM documents
    ),
    tok2 AS (SELECT * FROM tok WHERE term <> ''),
    vocab AS (
        SELECT term, count(*) AS c_s,
               sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS c_t
        FROM tok2 GROUP BY term
    ),
    tot AS (
        SELECT sum(c_s) AS s_tok, sum(c_t) AS t_tok, count(*) AS v
        FROM vocab
    ),
    lr AS (
        SELECT term,
               CAST(round(ln(
                   (CAST(c_t + 1 AS DOUBLE) * CAST(s_tok + v AS DOUBLE))
                 / (CAST(c_s + 1 AS DOUBLE) * CAST(t_tok + v AS DOUBLE))
               ) * 1e9) AS BIGINT) AS lr_nano
        FROM vocab, tot
    ),
    score AS (
        SELECT t.doc_id, t.lang,
               count(*) AS n_tokens, sum(lr_nano) AS w_nano
        FROM tok2 t JOIN lr USING (term)
        GROUP BY 1, 2
    )
    SELECT doc_id, lang, CAST(n_tokens AS BIGINT) AS n_tokens,
           round(w_nano / 1e9, 6) AS log_weight
    FROM score ORDER BY w_nano DESC, doc_id LIMIT {DSIR_TOP_K}
    """,
)
def corpus_dsir_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR — Data Selection via Importance Resampling (Xie et al.,
    NeurIPS 2023): score every raw document by how much its unigram
    distribution looks like a TARGET domain (here lang='en') relative
    to the full SOURCE corpus, then keep the top-weighted documents.
    The published method hashes n-gram features and adds Gumbel noise
    for sampling-without-replacement; this registered variant uses
    explicit unigram features and the deterministic weight ranking so
    the result is engine-portable and oracle-checkable (a seeded
    Gumbel perturbation is a map-side one-line addition at scale —
    sampling seeds, not the scoring plane, are what an oracle cannot
    share).

    log w(doc) = sum over doc tokens of
        ln( p_target(term) / p_source(term) )
    with add-one smoothing over the source vocabulary V:
        p_target = (c_t+1)/(T+V),  p_source = (c_s+1)/(S+V).

    Plan (three shuffles, all key-bounded):
      1. ONE token explode feeds ONE groupBy(term) computing BOTH
         distributions (count + conditional count — never two passes
         over the token stream);
      2. the corpus totals (S, T, V) are a 1-row aggregate of the
         vocabulary relation, broadcast into the per-term log-ratio
         (Zipf keeps vocab << corpus, so the lr table is the small
         side AQE broadcasts into the token join);
      3. per-doc weight is a doc_id-keyed sum of exact int64
         nano-units; the top-k cut orders by (w_nano, doc_id) — an
         exact-integer total order, so the cut line cannot move —
         executed as TakeOrdered (per-partition top-k merge, never a
         global sort).

    Engine exactness: every ln argument is a ratio of products of
    identical integers cast to double at the same points, ONE ln call,
    nano-snapped to int64 (absorbing libm-vs-JVM last-ulp drift);
    per-doc sums are exact integer adds in both engines."""
    d = load_spread(spark, sf_dir, "documents")
    tok = (
        d.select("doc_id", "lang", F.explode(F.split("text", " ")).alias("term"))
        .where(F.col("term") != "")
    )
    # r14: ONE token explode — the (doc, lang, term) count relation is
    # materialized once and feeds BOTH the vocabulary rollup (Σ_doc c
    # ≡ the corpus term counts, conditional sum ≡ the target counts)
    # and the scoring join (per-doc weight = Σ c·lr_nano — summing c
    # identical int64s IS multiplication, bit-exact).  The before-plan
    # exploded the corpus twice (vocab aggregate + scoring join).
    dt = (
        tok.groupBy("doc_id", "lang", "term")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint()
    )
    vocab = dt.groupBy("term").agg(
        F.sum("c").alias("c_s"),
        F.sum(F.when(F.col("lang") == "en", F.col("c")).otherwise(0)).alias(
            "c_t"
        ),
    )
    total = vocab.agg(
        F.sum("c_s").alias("s_tok"),
        F.sum("c_t").alias("t_tok"),
        F.count(F.lit(1)).alias("v"),
    )
    lr = vocab.crossJoin(F.broadcast(total)).select(
        "term",
        F.round(
            F.log(
                ((F.col("c_t") + 1).cast("double")
                 * (F.col("s_tok") + F.col("v")).cast("double"))
                / ((F.col("c_s") + 1).cast("double")
                   * (F.col("t_tok") + F.col("v")).cast("double"))
            )
            * 1e9
        )
        .cast("long")
        .alias("lr_nano"),
    )
    return (
        dt.join(lr, "term")
        .groupBy("doc_id", "lang")
        .agg(
            F.sum("c").alias("n_tokens"),
            F.sum(F.col("c") * F.col("lr_nano")).alias("w_nano"),
        )
        .orderBy(F.desc("w_nano"), F.asc("doc_id"))
        .limit(DSIR_TOP_K)
        .select(
            "doc_id",
            "lang",
            "n_tokens",
            F.round(F.col("w_nano") / 1e9, 6).alias("log_weight"),
        )
    )


# ---------------------------------------------------------------------------
# r8: cross-source vocabulary overlap (corpus drift / contamination audit)
# ---------------------------------------------------------------------------

VOCAB_MIN_COUNT = 3  # a term enters a source's vocabulary at >= 3 uses


@query(
    "corpus_vocab_overlap",
    oracle=f"""
    WITH tok AS (
        SELECT source, unnest(string_split(text, ' ')) AS term
        FROM documents
    ),
    v AS (
        SELECT source, term
        FROM tok WHERE term != ''
        GROUP BY source, term
        HAVING count(*) >= {VOCAB_MIN_COUNT}
    ),
    sizes AS (SELECT source, count(*) AS vsz FROM v GROUP BY source),
    inter AS (
        SELECT a.source AS source_a, b.source AS source_b,
               count(*) AS n_shared
        FROM v a JOIN v b ON a.term = b.term AND a.source < b.source
        GROUP BY a.source, b.source
    )
    SELECT i.source_a, i.source_b,
           sa.vsz AS vocab_a, sb.vsz AS vocab_b, i.n_shared,
           round(CAST(i.n_shared AS DOUBLE)
                 / (sa.vsz + sb.vsz - i.n_shared), 6) AS jaccard
    FROM inter i
    JOIN sizes sa ON sa.source = i.source_a
    JOIN sizes sb ON sb.source = i.source_b
    ORDER BY i.source_a, i.source_b
    """,
)
def corpus_vocab_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source vocabulary Jaccard: how much the word inventories
    of each source pair overlap — the drift/contamination audit a
    mixture pipeline runs when a new crawl joins the corpus (a source
    whose vocabulary suddenly matches another's is a re-crawl or a
    mislabel; one drifting AWAY signals a topic shift).

    Plan: one explode → (source, term) count aggregate with the
    min-count cut applied IN the aggregate (Zipf's rare-term tail —
    most of the distinct mass — never leaves it); the pair
    intersection is a term-keyed self-join of the CUT vocabulary
    (vocab-bounded, source-pair output is |sources|² tiny); sizes
    broadcast back.  No document pairs, no cross join — cost is
    bounded by vocabulary size regardless of corpus row count."""
    tok = (
        load_spread(spark, sf_dir, "documents")
        .select("source", F.explode(F.split("text", " ")).alias("term"))
        .where(F.col("term") != "")
    )
    v = (
        tok.groupBy("source", "term")
        .agg(F.count(F.lit(1)).alias("c"))
        .where(F.col("c") >= VOCAB_MIN_COUNT)
        .select("source", "term")
    )
    # Materialize the cut vocabulary once (r14): ``v`` feeds THREE
    # consumers (sizes + both self-join sides) and each reference
    # re-ran the token explode + count aggregate — three full corpus
    # scans for one vocab-bounded relation.  After the min-count cut
    # the table is vocabulary-sized (Zipf: far below corpus size), so
    # the materialization is small and the scan count drops 3 -> 1.
    v = v.localCheckpoint()
    sizes = v.groupBy("source").agg(F.count(F.lit(1)).alias("vsz"))
    a, b = v.alias("a"), v.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.term") == F.col("b.term"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    sa = sizes.select(F.col("source").alias("source_a"), F.col("vsz").alias("vocab_a"))
    sb = sizes.select(F.col("source").alias("source_b"), F.col("vsz").alias("vocab_b"))
    return (
        inter.join(F.broadcast(sa), "source_a")
        .join(F.broadcast(sb), "source_b")
        .select(
            "source_a",
            "source_b",
            "vocab_a",
            "vocab_b",
            "n_shared",
            F.round(
                F.col("n_shared").cast("double")
                / (F.col("vocab_a") + F.col("vocab_b") - F.col("n_shared")),
                6,
            ).alias("jaccard"),
        )
        .orderBy("source_a", "source_b")
    )


@query(
    "corpus_source_drift_js",
    oracle=f"""
    WITH tok AS (
        SELECT source, doc_id % 2 AS half,
               unnest(string_split(text, ' ')) AS term
        FROM documents
    ),
    ct AS (
        SELECT source, term,
               CASE WHEN sum(CASE WHEN half = 0 THEN 1 ELSE 0 END)
                         >= {VOCAB_MIN_COUNT}
                    THEN sum(CASE WHEN half = 0 THEN 1 ELSE 0 END)
                    ELSE 0 END AS c0,
               CASE WHEN sum(CASE WHEN half = 1 THEN 1 ELSE 0 END)
                         >= {VOCAB_MIN_COUNT}
                    THEN sum(CASE WHEN half = 1 THEN 1 ELSE 0 END)
                    ELSE 0 END AS c1
        FROM tok WHERE term != ''
        GROUP BY source, term
    ),
    ct2 AS (SELECT * FROM ct WHERE c0 > 0 OR c1 > 0),
    tot AS (
        SELECT source, sum(c0) AS n0, sum(c1) AS n1 FROM ct2 GROUP BY source
    ),
    terms AS (
        SELECT c.source, c.term,
               CASE WHEN t.n0 > 0 THEN CAST(c.c0 AS DOUBLE) / t.n0
                    ELSE 0 END AS p,
               CASE WHEN t.n1 > 0 THEN CAST(c.c1 AS DOUBLE) / t.n1
                    ELSE 0 END AS q
        FROM ct2 c JOIN tot t USING (source)
    ),
    contrib AS (
        SELECT source, term,
               CAST(round(1e9 * 0.5 * (
                   CASE WHEN p > 0
                        THEN p * ln(p / ((p + q) / 2)) ELSE 0 END
                 + CASE WHEN q > 0
                        THEN q * ln(q / ((p + q) / 2)) ELSE 0 END
               )) AS BIGINT) AS js_nano,
               CAST(round(1e9 * abs(p - q)) AS BIGINT) AS delta_nano
        FROM terms
    ),
    per_source AS (
        SELECT source, count(*) AS n_terms, sum(js_nano) AS sjs
        FROM contrib GROUP BY source
    ),
    top AS (
        SELECT source, term, delta_nano,
               row_number() OVER (PARTITION BY source
                                  ORDER BY delta_nano DESC, term) AS rn
        FROM contrib
    )
    SELECT p.source, p.n_terms,
           round(p.sjs / 1e9, 6)       AS js_divergence,
           t.term                      AS top_drift_term,
           round(t.delta_nano / 1e9, 6) AS top_drift_delta
    FROM per_source p JOIN top t ON t.source = p.source AND t.rn = 1
    ORDER BY p.source
    """,
)
def corpus_source_drift_js(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution drift per source between two corpus snapshots
    (doc_id parity stands in for version N vs N+1): Jensen-Shannon
    divergence of the two term distributions (Lin 1991, "Divergence
    Measures Based on the Shannon Entropy" — symmetric, bounded by
    ln 2, defined when one side lacks a term), plus the single most
    drifting term by probability delta.  This is the audit a refresh
    pipeline runs before swapping a corpus version in: a source whose
    JS jumps got re-crawled, re-filtered, or mislabeled.

    Plan: ONE (source, term) aggregate over the token explode with
    BOTH halves' counts as conditional sums and the min-count cut
    applied inside it (Zipf's rare tail never leaves the aggregate);
    per-source totals broadcast back onto the vocab-bounded term
    relation; the JS sum and the top-drift row_number both reuse the
    same source-keyed partitioning.  Cross-engine exactness: p and q
    are ratios of identical int64 counts, each term's JS contribution
    is snapped to a nano-int64 BEFORE the per-source sum (the nDCG
    discipline — summing doubles would expose parallel-reduction
    order), and the final emit is one rounded division."""
    tok = (
        load_spread(spark, sf_dir, "documents")
        .select(
            "source",
            (F.col("doc_id") % 2).alias("half"),
            F.explode(F.split("text", " ")).alias("term"),
        )
        .where(F.col("term") != "")
    )
    cut = F.lit(VOCAB_MIN_COUNT)
    c0raw = F.sum(F.when(F.col("half") == 0, 1).otherwise(0))
    c1raw = F.sum(F.when(F.col("half") == 1, 1).otherwise(0))
    ct = (
        tok.groupBy("source", "term")
        .agg(c0raw.alias("c0raw"), c1raw.alias("c1raw"))
        .select(
            "source",
            "term",
            F.when(F.col("c0raw") >= cut, F.col("c0raw"))
            .otherwise(F.lit(0))
            .alias("c0"),
            F.when(F.col("c1raw") >= cut, F.col("c1raw"))
            .otherwise(F.lit(0))
            .alias("c1"),
        )
        .where((F.col("c0") > 0) | (F.col("c1") > 0))
    )
    # Materialize the cut contingency table once (r14): ``ct`` is
    # referenced by the totals aggregate AND (via terms -> contrib) by
    # both the JS sum and the top-drift window — the before-plan ran
    # the token explode + (source, term) aggregate three times.  After
    # the min-count cut ct is vocabulary-sized; one materialization
    # turns three corpus scans into one.
    ct = ct.localCheckpoint()
    tot = ct.groupBy("source").agg(
        F.sum("c0").alias("n0"), F.sum("c1").alias("n1")
    )
    p = F.when(
        F.col("n0") > 0, F.col("c0").cast("double") / F.col("n0")
    ).otherwise(F.lit(0.0))
    q = F.when(
        F.col("n1") > 0, F.col("c1").cast("double") / F.col("n1")
    ).otherwise(F.lit(0.0))
    terms = ct.join(F.broadcast(tot), "source").select(
        "source", "term", p.alias("p"), q.alias("q")
    )
    m = (F.col("p") + F.col("q")) / 2
    js_term = F.lit(0.5) * (
        F.when(
            F.col("p") > 0, F.col("p") * F.log(F.col("p") / m)
        ).otherwise(F.lit(0.0))
        + F.when(
            F.col("q") > 0, F.col("q") * F.log(F.col("q") / m)
        ).otherwise(F.lit(0.0))
    )
    contrib = terms.select(
        "source",
        "term",
        F.round(F.lit(1e9) * js_term).cast("long").alias("js_nano"),
        F.round(F.lit(1e9) * F.abs(F.col("p") - F.col("q")))
        .cast("long")
        .alias("delta_nano"),
    )
    per_source = contrib.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_terms"),
        F.sum("js_nano").alias("sjs"),
    )
    w = Window.partitionBy("source").orderBy(
        F.desc("delta_nano"), F.asc("term")
    )
    top = (
        contrib.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "source",
            F.col("term").alias("top_drift_term"),
            "delta_nano",
        )
    )
    return (
        per_source.join(top, "source")
        .select(
            "source",
            "n_terms",
            F.round(F.col("sjs") / 1e9, 6).alias("js_divergence"),
            "top_drift_term",
            F.round(F.col("delta_nano") / 1e9, 6).alias("top_drift_delta"),
        )
        .orderBy("source")
    )


@query(
    "corpus_leakage_safe_split",
    oracle=f"""
    WITH g AS (
        SELECT doc_id, n_chars,
               md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
                   AS grp,
               CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2)
                         < '{VAL_HEX_CUTOFF}'
                    THEN 'val' ELSE 'train' END AS naive_split
        FROM documents
    ),
    reps AS (
        SELECT grp,
               min(doc_id)                  AS rep,
               count(*)                     AS n_docs_g,
               CAST(sum(n_chars) AS BIGINT) AS chars_g,
               CASE WHEN count(DISTINCT naive_split) > 1
                    THEN 1 ELSE 0 END       AS naive_leak
        FROM g GROUP BY grp
    )
    SELECT CASE WHEN substr(md5(CAST(rep AS VARCHAR)), 1, 2)
                     < '{VAL_HEX_CUTOFF}'
                THEN 'val' ELSE 'train' END     AS split,
           CAST(sum(n_docs_g) AS BIGINT)        AS n_docs,
           count(*)                             AS n_groups,
           CAST(sum(chars_g) AS BIGINT)         AS total_chars,
           CAST(sum(naive_leak) AS BIGINT)      AS naive_leaked_groups
    FROM reps GROUP BY 1 ORDER BY split
    """,
)
def corpus_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-aware train/val split: duplicate GROUPS (normalized
    content hash — the dedup_normalized key) are assigned to a split
    as a unit, keyed by the group representative's md5 bucket, so two
    copies of one document can never straddle train and val — the
    eval-contamination guard a per-document hash split cannot give
    (Lee et al. 2022, "Deduplicating Training Data Makes Language
    Models Better", documents exactly this leakage mode).  The output
    also MEASURES the averted damage: ``naive_leaked_groups`` counts
    the groups the per-document split would have torn across both
    sides.

    Plan: one scan → one (group-hash) aggregate carrying the member
    count, char volume and the would-have-leaked flag (a distinct
    count over the two naive labels, computed in-aggregate) → a tiny
    group-keyed relation split by the same md5-bucket discipline as
    deterministic_split → a 2-row final aggregate.  At 100 TB the
    only fact-scale shuffle is the group hash — the dedup_exact scale
    shape; everything after is group-bounded.  Safety is structural
    (one split per group, by construction) and the zero-straddle law
    plus planted-duplicate semantics are pinned in
    tests/test_r9_operators.py."""
    d = load_spread(spark, sf_dir, "documents")
    norm = F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))
    naive_bucket = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
    g = d.select(
        "doc_id",
        "n_chars",
        F.md5(norm).alias("grp"),
        F.when(naive_bucket < VAL_HEX_CUTOFF, F.lit("val"))
        .otherwise(F.lit("train"))
        .alias("naive_split"),
    )
    # naive_leak: the label is 2-valued, so "count(DISTINCT) > 1" is
    # exactly "min != max" — the r14 countDistinct form planned as
    # Spark's two-level distinct-aggregate rewrite, whose FIRST
    # exchange keys on (grp, naive_split) and whose partial aggregate
    # cannot combine rows of one group with different labels; min/max
    # keeps one single-exchange hash aggregate with full map-side
    # combining (guide §2.3 "aggregate before you shuffle").
    reps = g.groupBy("grp").agg(
        F.min("doc_id").alias("rep"),
        F.count(F.lit(1)).alias("n_docs_g"),
        F.sum("n_chars").alias("chars_g"),
        (F.min("naive_split") != F.max("naive_split"))
        .cast("int")
        .alias("naive_leak"),
    )
    assigned = deterministic_split(reps, id_col="rep")
    return (
        assigned.groupBy("split")
        .agg(
            F.sum("n_docs_g").alias("n_docs"),
            F.count(F.lit(1)).alias("n_groups"),
            F.sum("chars_g").cast("long").alias("total_chars"),
            F.sum("naive_leak").cast("long").alias("naive_leaked_groups"),
        )
        .orderBy("split")
    )
