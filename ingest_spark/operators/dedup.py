"""Deduplication suite for web-scale corpora (documents table).

Five dedup families, each a first-class operator with a declarative
Spark plan; Python only in the sketch kernels (Arrow-batched):

1. exact        — md5 hash groupBy (portable oracle: DuckDB md5)
2. minhash-LSH  — shingle → k-perm MinHash → banded bucket join,
                  plus an INCREMENTAL state-machine variant
                  (minhash_incremental_*: new batches band-join
                  against a signature store; replay-safe, updates
                  replace by signature)
3. simhash      — 64-bit Charikar fingerprint + pigeonhole block join
                  with exact hamming recheck
4. ngram-jaccard— exact set Jaccard, PPJoin-style: prefix-filtered
                  candidates (hot grams excluded) + exact verify on
                  candidates only
5. embedding    — cosine near-dup via hyperplane LSH buckets

Plus exact transitive clustering (``connected_components``):
min-label propagation with pointer doubling, O(log diameter) rounds.

Scale notes: every pairwise family is bucketed (LSH bands / pigeonhole
blocks / hash prefixes) so the self-join is per-bucket, never a global
cross join; bucket skew is bounded by uniform hashing plus explicit
caps where inputs can degenerate (hot-gram exclusion; simhash
hot-block cap). The canonical-survivor rule is always min(doc_id) —
deterministic.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T
from pyspark.sql.types import ArrayType, LongType

from ..config import DEFAULT, EngineConfig
from ..functions import sketches as sk
from .partitioning import kernel_partitions


# ------------------------------------------------------------- exact

def exact_duplicates(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(doc_id, canonical_id) for every doc whose text is byte-equal to
    an earlier doc. Plan: md5 → groupBy hash → min(id) broadcast back."""
    h = docs.select(F.col(id_col), F.md5(F.encode(text_col, "UTF-8")).alias("h"))
    canon = h.groupBy("h").agg(F.min(id_col).alias("canonical_id"))
    return (
        h.join(canon, "h")
        .where(F.col(id_col) != F.col("canonical_id"))
        .select(F.col(id_col), "canonical_id")
    )


def dedup_exact(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Keep one row per distinct text (the min-id canonical)."""
    w_min = (
        docs.groupBy(F.md5(F.encode(text_col, "UTF-8")).alias("h"))
        .agg(F.min(id_col).alias(id_col))
        .select(id_col)
    )
    return docs.join(w_min, id_col, "left_semi")


# ---------------------------------------------------------- minhash

def _minhash_udf(k: int, shingle: int):
    @F.pandas_udf(ArrayType(LongType()))
    def _u(text: pd.Series) -> pd.Series:
        sh = [sk.char_shingles(t or "", shingle) for t in text]
        sigs = sk.minhash_signatures_batch(sh, k).view(np.int64)
        return pd.Series(list(sigs))
    return _u


def _bands_udf(bands: int):
    @F.pandas_udf(ArrayType(LongType()))
    def _u(sig: pd.Series) -> pd.Series:
        out = []
        for s in sig:
            bs = sk.minhash_bands(np.asarray(s, dtype=np.int64).view(np.uint64), bands)
            out.append(bs.view(np.int64).tolist())
        return pd.Series(out)
    return _u


def with_minhash(
    docs: DataFrame,
    cfg: EngineConfig = DEFAULT,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    # CPU-bound sketch: spread byte-sized scans to all cores first
    docs = kernel_partitions(docs)
    return docs.select(
        F.col(id_col),
        _minhash_udf(cfg.minhash_perms, cfg.shingle_size)(F.col(text_col)).alias("minhash"),
    )


def _minhash_sig_bands_udf(k: int, shingle: int, bands: int):
    """Fused sketch+bands kernel: signatures AND their LSH band hashes
    in ONE Arrow crossing (guide §4 — the band fold is a pure function
    of the signature, so computing it downstream in a second pandas UDF
    paid an extra Python stage per join side and re-shipped every
    signature across the boundary; round-8 profile: two ~0.4-0.6 s
    band-UDF stages per minhash_lsh run, both removed)."""
    schema = T.StructType([
        T.StructField("minhash", ArrayType(LongType())),
        T.StructField("bands", ArrayType(LongType())),
    ])

    @F.pandas_udf(schema)
    def _u(text: pd.Series) -> pd.DataFrame:
        sh = [sk.char_shingles(t or "", shingle) for t in text]
        sigs = sk.minhash_signatures_batch(sh, k)
        bnds = sk.minhash_bands_batch(sigs, bands).view(np.int64)
        return pd.DataFrame({
            "minhash": list(sigs.view(np.int64)),
            "bands": list(bnds),
        })
    return _u


def with_minhash_bands(
    docs: DataFrame,
    cfg: EngineConfig = DEFAULT,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id, minhash, bands) with both computed in one kernel pass —
    identical values to ``with_minhash`` + ``_bands_udf`` (parity-
    tested); the LSH plans explode the stored ``bands`` column as pure
    JVM work instead of a second Python stage."""
    docs = kernel_partitions(docs)
    fused = _minhash_sig_bands_udf(
        cfg.minhash_perms, cfg.shingle_size, cfg.minhash_bands
    )
    return docs.select(
        F.col(id_col), fused(F.col(text_col)).alias("_mb")
    ).select(
        F.col(id_col),
        F.col("_mb.minhash").alias("minhash"),
        F.col("_mb.bands").alias("bands"),
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    threshold: float = 0.8,
    cfg: EngineConfig = DEFAULT,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Candidate pairs sharing ≥1 LSH band, scored by signature-equality
    Jaccard estimate, filtered at ``threshold``. Returns
    (doc_a, doc_b, est_jaccard) with doc_a < doc_b.

    Shuffle shape: the banded self-join carries (doc id, band) ONLY —
    at 128 perms × 8 B the full signature is ~1-2 kB/row/side, so
    joining ids first and re-attaching signatures by id afterwards
    halves the band-join shuffle bytes (the candidate set is orders of
    magnitude smaller than the banded table). The signature table is
    materialized once (eager localCheckpoint) so the MinHash UDF does
    not recompute for the band explode and both re-attach sides; its
    blocks are released by the ContextCleaner when the plan is GC'd
    (no session-lifetime persist)."""
    # one signature row per id: a duplicated input id would otherwise
    # multiply deduped candidate pairs back out through the re-attach
    # joins (signatures are a pure function of text, so with genuinely
    # unique ids this is a no-op)
    sigs = (
        with_minhash_bands(docs, cfg, id_col, text_col)
        .dropDuplicates([id_col])
        .localCheckpoint(eager=True)
    )
    # band explode is pure JVM (Generate over the stored bands column):
    # the fused kernel above computed bands alongside the signatures, so
    # neither join side re-enters Python (round-8 fix; previously the
    # band UDF executed once PER SIDE of the self-join)
    banded = sigs.select(
        F.col(id_col).alias("doc"),
        F.posexplode("bands").alias("band_idx", "band_hash"),
    )
    a = banded.select(F.col("doc").alias("doc_a"), "band_idx", "band_hash")
    b = banded.select(F.col("doc").alias("doc_b"), "band_idx", "band_hash")
    # the signature-equality verify downstream is CPU-bound per pair
    # while the candidate frame is two ids per row: AQE would coalesce
    # its exchange by bytes to 1-2 partitions and run the verify on one
    # core (round-6 profile: a 0.56 s single-task stage at sf0.1). The
    # kernel exchange comes BEFORE the dedupe, so the aggregate reuses
    # it: one exchange, not two.
    cand = (
        a.join(b, ["band_idx", "band_hash"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
    )
    pairs = (
        kernel_partitions(cand, "doc_a", "doc_b")
        .dropDuplicates(["doc_a", "doc_b"])
        .join(sigs.select(F.col(id_col).alias("doc_a"), F.col("minhash").alias("sig_a")), "doc_a")
        .join(sigs.select(F.col(id_col).alias("doc_b"), F.col("minhash").alias("sig_b")), "doc_b")
    )
    return _estimate_pairs(pairs, threshold, cfg)


def _estimate_pairs(pairs: DataFrame, threshold: float, cfg: EngineConfig) -> DataFrame:
    """(doc_a, doc_b, sig_a, sig_b) → scored pairs ≥ threshold: count of
    equal signature positions / k = the Jaccard estimate."""
    eq_count = F.aggregate(
        F.zip_with("sig_a", "sig_b", lambda x, y: F.when(x == y, 1).otherwise(0)),
        F.lit(0),
        lambda acc, v: acc + v,
    )
    return (
        pairs.withColumn("est_jaccard", eq_count / F.lit(cfg.minhash_perms))
        .where(F.col("est_jaccard") >= threshold)
        .select("doc_a", "doc_b", "est_jaccard")
    )


def minhash_lsh_pairs_incremental(
    old_sigs: DataFrame,
    new_docs: DataFrame,
    threshold: float = 0.8,
    cfg: EngineConfig = DEFAULT,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> tuple[DataFrame, DataFrame]:
    """Incremental near-dup detection for a GROWING corpus: the stored
    signature table is the state (the webtext analog of the reference's
    resumable scan file); a new batch computes signatures for its own
    docs only and the banded candidate join is restricted to pairs
    touching a new doc (new × all) — per-batch work scales with the
    BATCH plus its collisions, never re-sketching the corpus.

    Sketching is batch-scaled (only new docs cross the MinHash kernel);
    the band join re-bands the STORED signatures each batch — one
    vectorized pass over the state, never re-sketching text. Batch rows
    are reconciled against the state BY SIGNATURE: an exact replay
    (same id, same signature — at-least-once redelivery) is dropped,
    while a redelivered id with CHANGED text is an UPDATE — its new
    signature replaces the stored one and its pairs re-emit. Pass a
    MATERIALIZED ``old_sigs`` (the previous call's return, or a
    storage read) — it sits on three join sides below, and this
    function deliberately does NOT re-materialize corpus-sized state
    per batch (that would make every batch O(corpus) write).

    Returns (pairs, all_sigs): pairs = exactly the full-recompute
    pair set filtered to batch-doc involvement (oracle + pytest
    parity); all_sigs = the updated signature state to persist for the
    next batch (e.g. through plans.checkpoint's SnapshotBackend)."""
    fresh = with_minhash(new_docs, cfg, id_col, text_col).dropDuplicates([id_col])
    prev = old_sigs.select(
        F.col(id_col), F.col("minhash").alias("_prev_sig")
    )
    new_sigs = (
        fresh.join(prev, id_col, "left")
        .where(
            F.col("_prev_sig").isNull() | (F.col("minhash") != F.col("_prev_sig"))
        )
        .drop("_prev_sig")
        .localCheckpoint(eager=True)
    )
    all_sigs = old_sigs.join(new_sigs.select(id_col), id_col, "left_anti").unionByName(
        new_sigs
    )

    def _band(sigs):
        return sigs.select(
            F.col(id_col).alias("doc"),
            F.posexplode(_bands_udf(cfg.minhash_bands)("minhash")).alias(
                "band_idx", "band_hash"
            ),
        )

    pairs = (
        _band(new_sigs)
        .select(F.col("doc").alias("doc_n"), "band_idx", "band_hash")
        .join(
            _band(all_sigs).select(F.col("doc").alias("doc_o"), "band_idx", "band_hash"),
            ["band_idx", "band_hash"],
        )
        .where(F.col("doc_n") != F.col("doc_o"))
        .select(
            F.least("doc_n", "doc_o").alias("doc_a"),
            F.greatest("doc_n", "doc_o").alias("doc_b"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
        .join(all_sigs.select(F.col(id_col).alias("doc_a"), F.col("minhash").alias("sig_a")), "doc_a")
        .join(all_sigs.select(F.col(id_col).alias("doc_b"), F.col("minhash").alias("sig_b")), "doc_b")
    )
    return _estimate_pairs(pairs, threshold, cfg), all_sigs


def dedup_minhash(
    docs: DataFrame,
    threshold: float = 0.8,
    cfg: EngineConfig = DEFAULT,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Drop near-duplicates: any doc paired (est_jaccard ≥ t) with a
    lower-id doc is removed. (Union-find-free approximation: one
    hop — sufficient when duplicates form tight clusters.)"""
    pairs = minhash_lsh_pairs(docs, threshold, cfg, id_col, text_col)
    losers = pairs.select(F.col("doc_b").alias(id_col)).distinct()
    return docs.join(losers, id_col, "left_anti")


# ---------------------------------------------- connected components

def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_rounds: int = 25,
    driver_threshold: int = 200_000,
    tier_out: dict | None = None,
) -> DataFrame:
    """EXACT duplicate clustering: (node, component) where component =
    the minimum node id reachable over the (undirected) edge set — the
    distributed union-find the one-hop dedup approximations lack
    (transitive duplicates: A~B, B~C but A!~C still form one cluster).

    Two execution tiers (adaptive, AQE-spirited):

    - edge sets ≤ ``driver_threshold`` run a DRIVER union-find: the
      near-dup pair list of a corpus is metadata-sized long before the
      corpus is (LSH pairs ≪ docs), and at this size the distributed
      loop is pure scheduling latency. One collect of a 2-column
      frame; exact, deterministic.
    - larger graphs run min-label propagation with POINTER DOUBLING —
      each round propagates the neighborhood minimum then shortcuts
      every label to its label's label, so convergence is
      O(log diameter) rounds on 2-column frames; convergence is
      checked every SECOND round (the count is the action that
      materializes the round's lazy checkpoint). ``max_rounds`` is a
      pathological-chain backstop (raises rather than returning a
      wrong answer). Both tiers are parity-tested against each other.
    """
    # materialize the symmetrized edges ONCE: they sit on the probe side
    # of every round's joins, and the upstream pair pipeline (a banded
    # LSH self-join for dup_components) must not re-execute per round.
    # Dedup on the CANONICAL half-set (least, greatest), then mirror
    # with a map-side union: the distinct's exchange carries |E| rows
    # instead of 2|E| mirrored ones (guide §2.3 — half the shuffle
    # bytes at every scale) and the symmetrized edge SET is identical.
    # A self-loop would surface as a duplicated row rather than one —
    # harmless to both tiers (union-find and min-label are idempotent)
    # and unreachable from the dedup pair producers (strict a < b).
    # least/greatest skip NULLs, so a (null, x) edge would become the
    # self-loop (x, x): an edge with a null end joins nothing, drop it.
    canon = edges.where(
        F.col(src).isNotNull() & F.col(dst).isNotNull()
    ).select(
        F.least(F.col(src), F.col(dst)).alias("s"),
        F.greatest(F.col(src), F.col(dst)).alias("d"),
    ).distinct()
    sym = canon.unionByName(
        canon.select(F.col("d").alias("s"), F.col("s").alias("d"))
    ).localCheckpoint(eager=True)

    # ONE action decides the tier AND fetches the edges: take(threshold+1)
    # returns every row iff the graph is driver-sized (replacing the old
    # count-then-collect pair of jobs); an over-threshold graph transfers
    # at most threshold+1 metadata-sized rows before routing distributed.
    rows = sym.take(driver_threshold + 1) if driver_threshold else None
    if rows is not None and len(rows) <= driver_threshold:
        if tier_out is not None:
            tier_out["tier"] = "driver"
        parent: dict = {}

        def find(x):
            r = x
            while parent[r] != r:
                r = parent[r]
            while parent[x] != r:  # path compression
                parent[x], x = r, parent[x]
            return r

        for row in rows:
            a, b = row["s"], row["d"]
            parent.setdefault(a, a)
            parent.setdefault(b, b)
            ra, rb = find(a), find(b)
            if ra != rb:
                # union by MIN so the root IS the component id
                lo, hi = (ra, rb) if ra < rb else (rb, ra)
                parent[hi] = lo
        spark = edges.sparkSession
        node_t = edges.schema[src].dataType
        schema = T.StructType([
            T.StructField("node", node_t, False),
            T.StructField("component", node_t, False),
        ])
        # Arrow-path createDataFrame (pandas input): the tuple-list path
        # ships pickled rows through a Python-worker scan — a ~0.5 s
        # 32-task Python stage for a metadata-sized table (round-8
        # profile); the Arrow conversion stays JVM-side at read time
        nodes = list(parent)
        if not nodes:
            return spark.createDataFrame([], schema)
        pdf = pd.DataFrame({
            "node": nodes, "component": [find(n) for n in nodes]
        })
        return spark.createDataFrame(pdf, schema)
    if tier_out is not None:
        tier_out["tier"] = "distributed"
    # seed with the neighborhood minimum — equivalent to running the
    # first propagation round during init, so tiny-diameter clusters
    # (the web-dedup common case) converge one round earlier; LAZY
    # checkpoint: round 1's convergence count materializes it
    labels = (
        sym.groupBy("s")
        .agg(F.min("d").alias("_m"))
        .select(F.col("s").alias("node"), F.least("s", "_m").alias("lab"))
        .localCheckpoint(eager=False)
    )

    for rnd in range(max_rounds):
        # neighborhood minimum (incl. own label)
        nbr = sym.join(labels.withColumnRenamed("node", "d"), "d").select(
            F.col("s").alias("node"), "lab"
        )
        new = (
            labels.unionByName(nbr)
            .groupBy("node")
            .agg(F.min("lab").alias("lab"))
        )
        # pointer doubling: lab -> lab's lab
        short = new.join(
            new.select(F.col("node").alias("lab"), F.col("lab").alias("_ll")),
            "lab",
        ).select("node", F.col("_ll").alias("lab"))
        # LAZY checkpoint; convergence checked every SECOND round (its
        # count is the action that materializes the checkpoint) — odd
        # rounds are a single materialize job with no compare
        short = short.localCheckpoint(eager=False)
        if rnd % 2 == 1 or rnd == max_rounds - 1:
            changed = (
                short.join(labels.withColumnRenamed("lab", "_old"), "node")
                .where(F.col("lab") != F.col("_old"))
                .count()
            )
        else:
            short.count()  # materialize only
            changed = None
        labels.unpersist()
        labels = short
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_rounds} rounds"
        )
    return labels.select("node", F.col("lab").alias("component"))


def duplicate_components(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    pair_a: str = "doc_a",
    pair_b: str = "doc_b",
    driver_threshold: int = 200_000,
) -> DataFrame:
    """(doc_id, component) over ALL docs: near-dup pairs (any family —
    minhash/simhash/ngram) collapse into exact transitive clusters via
    connected_components; unpaired docs are their own singleton
    component. The exact replacement for the one-hop dedup rule:
    keep doc_id == component. ``driver_threshold`` passes through to
    connected_components (0 forces the distributed tier)."""
    tier: dict = {}
    comp = connected_components(
        pairs, src=pair_a, dst=pair_b, driver_threshold=driver_threshold,
        tier_out=tier,
    )
    comp = comp.withColumnRenamed("node", id_col)
    if tier.get("tier") == "driver":
        # driver-tier components are ≤ threshold rows by construction —
        # broadcast them so the corpus side never shuffles (guide §3.1);
        # the distributed tier's table is corpus-sized and keeps the
        # shuffle join
        comp = F.broadcast(comp)
    return (
        docs.select(F.col(id_col))
        .join(comp, id_col, "left")
        .select(
            id_col,
            F.coalesce("component", F.col(id_col)).alias("component"),
        )
    )


# ---------------------------------------------------------- simhash

def _simhash_kernel(docs_toks: list, n_docs: int) -> np.ndarray:
    """Shared vote kernel: list of per-doc token lists/arrays → uint64
    sketches. Vocabulary dedup via np.unique (C-speed; zipf repetition
    makes unique tokens ~10-50x fewer than total), FNV hashes over the
    unique tokens only, then BATCHED Charikar votes chunked so the
    (tokens x 64) vote intermediate stays ~200 MB per worker."""
    counts = np.fromiter((len(t) for t in docs_toks), dtype=np.int64, count=n_docs)
    if counts.sum() == 0:
        return np.zeros(n_docs, dtype=np.uint64)
    flat = np.concatenate([np.asarray(t, dtype=object) for t in docs_toks if len(t)])
    vocab, tok_ids = np.unique(flat, return_inverse=True)
    hashes = sk.hash_str_many(vocab.tolist())
    out = np.zeros(n_docs, dtype=np.uint64)
    budget = 150_000
    start_doc = 0
    start_tok = 0
    while start_doc < n_docs:
        end_doc = start_doc
        tok_end = start_tok
        while end_doc < n_docs and (
            tok_end - start_tok < budget or end_doc == start_doc
        ):
            tok_end += int(counts[end_doc])
            end_doc += 1
        th = hashes[tok_ids[start_tok:tok_end]]
        out[start_doc:end_doc] = sk.simhash_many(th, counts[start_doc:end_doc])
        start_doc = end_doc
        start_tok = tok_end
    return out


def _simhash_udf():
    """Legacy text-input path (Python-side tokenization) — kept for the
    JVM/Python tokenizer parity test."""
    @F.pandas_udf(LongType())
    def _u(text: pd.Series) -> pd.Series:
        docs_toks = [(t or "").lower().split() for t in text]
        return pd.Series(_simhash_kernel(docs_toks, len(text)).view(np.int64))
    return _u


def _simhash_tokens_udf():
    @F.pandas_udf(LongType())
    def _u(tokens: pd.Series) -> pd.Series:
        toks = tokens.to_numpy()
        return pd.Series(_simhash_kernel(list(toks), len(toks)).view(np.int64))
    return _u


def with_simhash(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(id, simhash). Tokenization runs JVM-side (codegen'd lower +
    regex split on ASCII whitespace — the exact semantics of the DuckDB
    oracle's string_split_regex('\\s+')); the Arrow-batched UDF only
    runs the numpy hash/vote kernels. Note: Python str.split() also
    splits on UNICODE whitespace — the engines agree on ASCII corpora
    (tested), and the JVM path is the contract-oracled one."""
    docs = kernel_partitions(docs)  # CPU-bound sketch stage
    toks = F.filter(
        F.split(F.lower(F.coalesce(F.col(text_col), F.lit(""))), r"\s+"),
        lambda c: c != F.lit(""),
    )
    return docs.select(F.col(id_col), _simhash_tokens_udf()(toks).alias("simhash"))


def _value_blocks(vals: DataFrame, nblocks: int, width: int) -> DataFrame:
    """Explode each distinct simhash value into its d+1 pigeonhole
    blocks: (simhash, block_idx, block_val)."""
    blocks = F.array(*[
        F.struct(
            F.lit(i).alias("block_idx"),
            F.shiftrightunsigned(F.col("simhash"), i * width).bitwiseAND(
                F.lit((1 << width) - 1)
            ).alias("block_val"),
        )
        for i in range(nblocks)
    ])
    return (
        vals.select("simhash", F.explode(blocks).alias("b"))
        .select("simhash", F.col("b.block_idx").alias("block_idx"),
                F.col("b.block_val").alias("block_val"))
    )


def _complement_col(nblocks: int, width: int):
    """The 64-width bits of ``simhash`` OUTSIDE block ``block_idx``,
    packed into the low bits (used to sub-pigeonhole hot blocks)."""
    expr = F.lit(0).cast("long")
    for i in range(nblocks):
        low_bits = i * width
        hi_shift = (i + 1) * width
        low = (
            F.col("simhash").bitwiseAND(F.lit((1 << low_bits) - 1))
            if low_bits > 0 else F.lit(0).cast("long")
        )
        # Java shifts are mod-64: an explicit 0 guards the last block
        hi = (
            F.shiftleft(F.shiftrightunsigned(F.col("simhash"), hi_shift), low_bits)
            if hi_shift < 64 else F.lit(0).cast("long")
        )
        expr = F.when(F.col("block_idx") == i, hi.bitwiseOR(low)).otherwise(expr)
    return expr


def _simhash_value_pairs(
    vals: DataFrame, max_hamming: int, hot_block_cap: int
) -> DataFrame:
    """Pigeonhole candidate join over DISTINCT simhash values with a
    hot-block cap, exact hamming re-check applied.

    Three tiers (skew ladder, mirroring ngram's hot-gram exclusion):
    1. cold blocks (≤ cap distinct values) — plain equi-self-join.
    2. hot blocks — sub-pigeonhole the 64-width complement bits into
       d+1 sub-blocks (a qualifying pair equal on the hot block has
       ≤ d diffs in the complement ⇒ shares a sub-block) and join on
       (block, sub-block); exact.
    3. still-hot sub-groups (> cap distinct values equal on
       width + sub_w bits — a near-clique): contracted to STAR pairs
       against the group's min value, emitted with their TRUE hamming
       and exempt from the ≤ max_hamming cut (a member farther than d
       from the min value must still stay connected to the group).
       Exactness degrades to connectivity-preserving there; below that
       threshold the output is the exact pair set. Contract data never
       reaches tier 3.
    """
    nblocks = max_hamming + 1
    width = 64 // nblocks
    ex = _value_blocks(vals, nblocks, width)
    hot = (
        ex.groupBy("block_idx", "block_val").count()
        .where(F.col("count") > hot_block_cap)
        .select("block_idx", "block_val", F.lit(1).alias("_hot"))
    )
    if hot.isEmpty():
        # common case (uniform sketches): no hot block — pure cold
        # join, none of the ladder stages are even planned
        xa = ex.select(F.col("simhash").alias("sh_a"), "block_idx", "block_val")
        xb = ex.select(F.col("simhash").alias("sh_b"), "block_idx", "block_val")
        cand = (
            xa.join(xb, ["block_idx", "block_val"])
            .where(F.col("sh_a") < F.col("sh_b"))
            .select("sh_a", "sh_b")
            .dropDuplicates(["sh_a", "sh_b"])
        )
        hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
        return (
            cand.withColumn("hamming", hamming)
            .where(F.col("hamming") <= max_hamming)
            .withColumn("is_star", F.lit(False))
        )
    ex = ex.join(F.broadcast(hot), ["block_idx", "block_val"], "left")
    cold = ex.where(F.col("_hot").isNull()).drop("_hot")
    xa = cold.select(F.col("simhash").alias("sh_a"), "block_idx", "block_val")
    xb = cold.select(F.col("simhash").alias("sh_b"), "block_idx", "block_val")
    cand_cold = (
        xa.join(xb, ["block_idx", "block_val"])
        .where(F.col("sh_a") < F.col("sh_b"))
        .select("sh_a", "sh_b")
    )

    sub_w = (64 - width) // nblocks
    hotex = (
        ex.where(F.col("_hot") == 1).drop("_hot")
        .withColumn("comp", _complement_col(nblocks, width))
    )
    subs = F.array(*[
        F.struct(
            F.lit(j).alias("sub_idx"),
            F.shiftrightunsigned(F.col("comp"), j * sub_w).bitwiseAND(
                F.lit((1 << sub_w) - 1)
            ).alias("sub_val"),
        )
        for j in range(nblocks)
    ])
    k4 = ["block_idx", "block_val", "sub_idx", "sub_val"]
    hs = (
        hotex.select("simhash", "block_idx", "block_val", F.explode(subs).alias("s"))
        .select("simhash", "block_idx", "block_val",
                F.col("s.sub_idx").alias("sub_idx"), F.col("s.sub_val").alias("sub_val"))
    )
    subhot = (
        hs.groupBy(*k4).count()
        .where(F.col("count") > hot_block_cap)
        .select(*k4, F.lit(1).alias("_hot2"))
    )
    hs = hs.join(F.broadcast(subhot), k4, "left")
    cold2 = hs.where(F.col("_hot2").isNull())
    ya = cold2.select(F.col("simhash").alias("sh_a"), *k4)
    yb = cold2.select(F.col("simhash").alias("sh_b"), *k4)
    cand_sub = (
        ya.join(yb, k4)
        .where(F.col("sh_a") < F.col("sh_b"))
        .select("sh_a", "sh_b")
    )

    hot2 = hs.where(F.col("_hot2") == 1)
    reps = hot2.groupBy(*k4).agg(F.min("simhash").alias("_rep"))
    cand_star = (
        hot2.join(reps, k4)
        .where(F.col("simhash") != F.col("_rep"))
        .select(F.least("_rep", "simhash").alias("sh_a"),
                F.greatest("_rep", "simhash").alias("sh_b"))
    )

    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    exact = (
        cand_cold.unionByName(cand_sub)
        .dropDuplicates(["sh_a", "sh_b"])
        .withColumn("hamming", hamming)
        .where(F.col("hamming") <= max_hamming)
        .withColumn("is_star", F.lit(False))
    )
    # tier-3 star pairs are EXEMPT from the hamming cut: they exist to
    # keep near-clique members connected to the group rep, and a member
    # further than d from the MIN value would otherwise lose all its
    # pairs (round-4 review finding). Their true hamming is emitted and
    # may exceed max_hamming; the explicit ``is_star`` marker lets
    # downstream code distinguish connectivity-only star pairs from
    # exact ≤ d pairs without inferring it from hamming (round-5
    # ADVICE item).
    star = (
        cand_star.dropDuplicates(["sh_a", "sh_b"])
        .withColumn("hamming", hamming)
        .withColumn("is_star", F.lit(True))
    )
    # A pair can surface in BOTH tiers: hamming ≤ d guarantees ≥ 1
    # identical block, which may be a cold one (exact-tier row) even
    # when another block's near-clique routed the same pair through
    # tier 3 (star row). dropDuplicates would keep an arbitrary one of
    # the two, making is_star nondeterministic for such pairs (round-5
    # ADVICE medium). Resolve deterministically: min(is_star) prefers
    # the exact tier (False < True), and hamming is a pure function of
    # (sh_a, sh_b) so min() is just a tie-keep.
    return (
        exact.unionByName(star)
        .groupBy("sh_a", "sh_b")
        .agg(F.min("hamming").alias("hamming"),
             F.min("is_star").alias("is_star"))
    )


def simhash_pairs(
    docs: DataFrame,
    max_hamming: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    hot_block_cap: int = 1024,
) -> DataFrame:
    """Near-dup pairs with hamming(simhash) ≤ d via the pigeonhole
    block trick: split 64 bits into d+1 blocks; equal pair ⇒ at least
    one block identical ⇒ candidate join per block, exact hamming
    re-check after.

    OUTPUT CONTRACT: on non-degenerate corpora every emitted pair has
    ``hamming ≤ max_hamming`` and the set is exact. When a near-clique
    exceeds the hot-block cap twice over (tier 3 — >cap distinct
    sketches agreeing on 28 bits), its members are connected to the
    group's min value by STAR pairs whose ``hamming`` column carries
    the TRUE distance and MAY exceed ``max_hamming``: downstream
    clustering keeps the (boilerplate-dominated) group together
    instead of silently dropping members. Callers needing the strict
    bound can filter ``hamming <= d`` — accepting that tier-3 groups
    then fragment. Star pairs are explicitly marked by the boolean
    ``is_star`` output column (False on every exact-tier pair), so
    consumers never have to infer the tier from the hamming value.

    Skew-safe by construction: the candidate join runs over DISTINCT
    simhash VALUES (a million byte-identical or empty docs collapse to
    ONE value row — zero candidates), and hot value-blocks are capped
    via ``_simhash_value_pairs``' sub-pigeonhole/star ladder. Value
    pairs are then expanded back to doc pairs by two equi-joins, so the
    only quadratic term left is the qualifying OUTPUT itself (identical
    docs: the intra-value clique), which is what the operator is asked
    to produce."""
    # ONE materialization of the (expensive) sketch UDF: the signature
    # table feeds the distinct-values join, the hot-block count AND
    # both doc-expansion sides — without this the UDF re-executes 3x
    sh = with_simhash(docs, id_col, text_col).localCheckpoint(eager=True)
    vals = sh.select("simhash").distinct()
    vp = _simhash_value_pairs(vals, max_hamming, hot_block_cap)
    a = sh.select(F.col(id_col).alias("_da"), F.col("simhash").alias("sh_a"))
    b = sh.select(F.col(id_col).alias("_db"), F.col("simhash").alias("sh_b"))
    inter = (
        vp.join(a, "sh_a").join(b, "sh_b")
        .select(F.least("_da", "_db").alias("doc_a"),
                F.greatest("_da", "_db").alias("doc_b"), "hamming",
                "is_star")
    )
    intra = (
        a.join(b.withColumnRenamed("sh_b", "sh_a"), "sh_a")
        .where(F.col("_da") < F.col("_db"))
        .select(F.col("_da").alias("doc_a"), F.col("_db").alias("doc_b"),
                F.lit(0).cast("integer").alias("hamming"),
                F.lit(False).alias("is_star"))
    )
    return inter.unionByName(intra)


# ----------------------------------------------------- ngram jaccard

def _gram_udf(n: int):
    import re

    from pyspark.sql.types import StringType

    @F.pandas_udf(ArrayType(StringType()))
    def _u(text: pd.Series) -> pd.Series:
        rx = re.compile(r"[^a-z0-9]+")
        out = []
        for t in text:
            w = rx.sub(" ", (t or "").lower()).split()
            out.append(list({" ".join(w[i:i + n]) for i in range(len(w) - n + 1)}))
        return pd.Series(out)

    return _u


def ngram_jaccard_pairs(
    docs: DataFrame,
    n: int = 3,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """EXACT word-n-gram Jaccard similarity pairs ≥ threshold.

    Plan: prefix filtering (the AllPairs/PPJoin family — public
    similarity-join literature). Grams are globally ordered by
    ascending document frequency; a pair with Jaccard ≥ t must share
    a gram inside BOTH docs' prefixes of length |X| − ⌈t·|X|⌉ + 1
    (proof: if the smallest shared gram w sits past one doc's prefix,
    that doc has ≥ prefix-len grams below w none of which are shared,
    so |∩| ≤ ⌈t·|X|⌉ − 1 < t·|X| ≤ t·|∪| — contradiction). Hot grams
    (high df) sort LAST and fall out of every prefix, so the candidate
    self-join is never quadratic in the hottest gram's document
    frequency — the scale-killer in the naive explode-and-join plan.
    Candidates then pass a min/max length-ratio filter (J ≥ t ⟹
    min|X| ≥ t·max|X|) and are verified EXACTLY via array_intersect,
    so the result set is identical to the naive plan (and to the
    DuckDB oracle twin, which keeps the naive SQL shape).
    """
    from pyspark.sql.window import Window

    # Arrow-batched gram kernel: ~5x the Catalyst
    # transform/slice/concat_ws expression (higher-order array funcs
    # are interpreted per element, not codegen'd). Semantics identical
    # to the SQL twin: lowercase, [^a-z0-9]+ -> space, distinct
    # space-joined word n-grams.
    docs_g = kernel_partitions(docs).select(
        F.col(id_col).alias("doc"), _gram_udf(n)(F.col(text_col)).alias("grams")
    ).where(F.size("grams") > 0)
    # the gram table feeds four consumers (df counts, ranking, and both
    # sides of the verify join) — materialize once instead of
    # recomputing the kernel per consumer. Eager localCheckpoint rather
    # than persist(): blocks are freed by the ContextCleaner once the
    # returned plan is GC'd, so repeated calls (bench loops, incremental
    # runs) don't leak cached blocks for the SparkSession lifetime.
    # (On a multi-node cluster prefer a reliable checkpoint dir — local
    # checkpoint blocks die with their executor.)
    docs_g = docs_g.localCheckpoint(eager=True)
    g = docs_g.select("doc", F.size("grams").alias("n_grams"), F.explode("grams").alias("gram"))

    # global gram order: ascending document frequency, gram as tiebreak
    gram_df = g.groupBy("gram").agg(F.count("*").alias("gram_df"))
    ranked = g.join(gram_df, "gram").withColumn(
        "pos",
        F.row_number().over(Window.partitionBy("doc").orderBy("gram_df", "gram")),
    )
    # prefix length |X| - ceil(t*|X|) + 1; the epsilon errs toward a
    # LONGER prefix (more candidates, never a missed pair)
    need = F.ceil(F.lit(float(threshold)) * F.col("n_grams") - F.lit(1e-7))
    # materialize the (small) prefix table once: it feeds BOTH sides of
    # the candidate self-join, and when AQE plans those sides as
    # broadcasts there is no exchange identity to reuse, so the whole
    # explode→df-join→sort→window chain executed twice (round-8 SQL-node
    # audit: two Window/Filter instances over the same 55k prefix rows;
    # measured −38% total CPU with the checkpoint). Projection first so
    # the checkpoint stores 3 scalar columns, not the rank metadata.
    prefix = ranked.where(F.col("pos") <= F.col("n_grams") - need + 1).select(
        "doc", "n_grams", "gram"
    ).localCheckpoint(eager=True)

    a = prefix.select(F.col("doc").alias("doc_a"), F.col("n_grams").alias("na"), "gram")
    b = prefix.select(F.col("doc").alias("doc_b"), F.col("n_grams").alias("nb"), "gram")
    cand = (
        a.join(b, "gram")
        .where(
            (F.col("doc_a") < F.col("doc_b"))
            & (F.least("na", "nb") >= F.lit(float(threshold)) * F.greatest("na", "nb"))
        )
        .select("doc_a", "doc_b")
    )
    # the exact verify below is CPU-bound per pair (array_intersect over
    # ~hundreds of grams): same kernel exchange before the dedupe as in
    # minhash_lsh_pairs
    cand = kernel_partitions(cand, "doc_a", "doc_b").dropDuplicates(["doc_a", "doc_b"])

    # exact verification on candidates only
    ga = docs_g.select(
        F.col("doc").alias("doc_a"), F.col("grams").alias("grams_a"),
        F.size("grams").alias("na"),
    )
    gb = docs_g.select(
        F.col("doc").alias("doc_b"), F.col("grams").alias("grams_b"),
        F.size("grams").alias("nb"),
    )
    common = F.size(F.array_intersect("grams_a", "grams_b"))
    return (
        cand.join(ga, "doc_a").join(gb, "doc_b")
        .withColumn("common", common)
        .withColumn("jaccard", F.col("common") / (F.col("na") + F.col("nb") - F.col("common")))
        .where(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


# ------------------------------------------------- embedding cosine

def _bucket_udf(n_planes: int):
    @F.pandas_udf(LongType())
    def _u(vec: pd.Series) -> pd.Series:
        mat = np.stack([np.asarray(v, dtype=np.float64) for v in vec])
        return pd.Series(sk.hyperplane_buckets(mat, n_planes))
    return _u


def embedding_cosine_pairs(
    embeddings: DataFrame,
    threshold: float = 0.95,
    n_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exact: bool = False,
) -> DataFrame:
    """Near-duplicate vectors by cosine ≥ threshold.

    Scale path (default): hyperplane-LSH bucket join — only vectors in
    the same sign-bucket are compared (recall < 1 but tunable via
    n_planes; multi-probe = lower n_planes).
    ``exact=True``: full self-join (the oracle twin, O(n²) — small n
    or verification only).
    """
    # norms are hoisted to once-per-vector (round 8): the pair set is
    # O(n²) in the worst case while vectors are O(n), and the norm fold
    # is 2/3 of the per-pair interpreted lambda work — same op order
    # per vector, so the cosine stays bit-identical (measured 23.9 s →
    # ~8 s on the sf0.1 exact path)
    norm = F.sqrt(
        F.aggregate(F.col(vec_col), F.lit(0.0), lambda acc, v: acc + v * v)
    )
    if exact:
        a = embeddings.select(
            F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"),
            norm.alias("_na"),
        )
        b = embeddings.select(
            F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"),
            norm.alias("_nb"),
        )
        pairs = a.crossJoin(b).where(F.col("id_a") < F.col("id_b"))
    else:
        withb = embeddings.select(
            F.col(id_col).alias("id"), F.col(vec_col).alias("v"),
            norm.alias("_n"),
            _bucket_udf(n_planes)(F.col(vec_col)).alias("bucket"),
        )
        a = withb.select(
            F.col("id").alias("id_a"), F.col("v").alias("va"),
            F.col("_n").alias("_na"), "bucket",
        )
        b = withb.select(
            F.col("id").alias("id_b"), F.col("v").alias("vb"),
            F.col("_n").alias("_nb"), "bucket",
        )
        pairs = a.join(b, "bucket").where(F.col("id_a") < F.col("id_b"))
    # (round 8: tried unrolling the dot fold into a per-dimension
    # arithmetic chain for fixed-dim inputs — 4× SLOWER than the
    # interpreted aggregate fold at dim 128 (the wide expression chain
    # defeats codegen). Measured, reverted; the fold stays.)
    dot = F.aggregate(
        F.zip_with("va", "vb", lambda x, y: x * y), F.lit(0.0),
        lambda acc, v: acc + v,
    )
    cos = dot / (F.col("_na") * F.col("_nb"))
    return (
        pairs.withColumn("cosine", cos)
        .where(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )
