"""Deduplication operators for large-scale training-data pipelines.

No reference analog (the reference's only dedup is the emitter's
onExists=skip, ExtractorConfig.java:276); these are the net-new corpus ops.

Shingling, banding and verification are Catalyst expressions (pure
`F.transform`/`F.zip_with`/`F.xxhash64` over arrays — JVM-side). Python
appears only as Arrow-batched numpy: the minhash permutation mins and the
SimHash bit-packing.

Near-dup detection is one candidate step and one verify step, each with
one implementation: _bucket_pairs (the banded self-join of
minhash_lsh_candidates, incremental_neardup and
similarity.lsh_neardup_pairs) and _jaccard_pairs (the exact verify of
verify_jaccard and both of incremental_neardup's pair sets).

Scale notes per operator:
  * minhash_lsh_candidates ∘ verify_jaccard: explode(bands) + self-join
    on (band_id, band_hash) — shuffle keys are 16 bytes, join fan-out
    bounded by bucket sizes; exact verify only on candidates. This is the
    standard shingle→minhash→band→bucket-join pipeline.
  * ngram_jaccard_pairs: EXACT all-pairs — O(n²), for oracle checks and
    small candidate sets only; minhash_lsh is the scale path.
  * simhash: near-dup by Hamming distance with band-bucketing on
    max_hamming+1 chunks (pigeonhole: any pair within distance d shares
    ≥1 of d+1 chunks exactly — recall is exact, not probabilistic).
  * embedding_neardup_pairs: exact cosine pairs (O(n²) baseline);
    similarity.py's LSH variant is the scale path.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql import types as T


# ------------------------------------------------------------- shingling


def gram_chain(toks: Column, n: int) -> Column:
    """Word n-gram strings from a BOUND token array via chained zip_with —
    g_k[i] = g_{k-1}[i] + ' ' + toks[i+k-1] — then one slice to the valid
    prefix. Value-identical to transform(sequence, concat_ws(slice(i, n)))
    (concat never sees a null inside the valid prefix, and concat_ws ≡
    concat over non-null strings), but each element does ONE concat
    instead of allocating an n-element slice copy — measured ~2x on the
    sf1.0 shingle kernel (r7). Short arrays (< n tokens) fall out as an
    empty array through the greatest(…, 0) slice lengths — no CASE guard
    needed (the tail positions carry nulls from zip_with padding and are
    sliced away)."""
    g = toks
    for k in range(2, n + 1):
        g = F.zip_with(
            g,
            F.slice(toks, k, F.greatest(F.size(toks) - (k - 1), F.lit(0))),
            lambda a, b: F.concat(a, F.lit(" "), b),
        )
    if n == 1:
        return g
    return F.slice(g, 1, F.greatest(F.size(toks) - (n - 1), F.lit(0)))


def word_shingles(
    text_col: Column | str, n: int = 3, distinct: bool = True
) -> Column:
    """Word n-gram shingles, pure Catalyst: split → chained zip_with grams
    (see gram_chain) → optional array_distinct.

    The token array is LET-BOUND: a lambda body that closes over the raw
    split() expression re-evaluates the split once per produced element
    (HOF lambda bodies are full expression trees) — measured 20x slowdown.
    Binding via letbind.let makes it a per-row constant.

    ``distinct=False`` (r7) skips the array_distinct pass for consumers
    that are multiplicity-invariant: minhash signatures (min over a set ==
    min over a multiset), array_intersect/array_union (both return
    distinct elements regardless of input duplicates), and countDistinct
    after explode. Every value flowing downstream is identical."""
    from commoncrawl_fetcher_lite_spark.functions.letbind import let

    c = F.col(text_col) if isinstance(text_col, str) else text_col
    empty = F.array().cast("array<string>")
    return let(
        F.split(F.trim(c), r"\s+"),
        # coalesce: null text used to fall out of the CASE guard as an
        # empty array — keep that contract (null-text rows must still
        # explode to zero rows AND compare equal for external callers)
        lambda toks: F.coalesce(
            F.array_distinct(gram_chain(toks, n))
            if distinct
            else gram_chain(toks, n),
            empty,
        ),
    )


# ------------------------------------------------------------ minhash LSH


def base_shingle_hashes(shingles: Column) -> Column:
    """xxhash64 per shingle — the ONLY string hashing, JVM-side."""
    return F.transform(shingles, lambda s: F.xxhash64(s))


def _minhash_udf(num_perm: int):
    """Vectorized permutation mins from base hashes: h_p(x) = mix(h1 + p*h2)
    (Kirsch-Mitzenmacher double hashing over splitmix-mixed lanes). The
    string hashing happened JVM-side; Python sees only int64 arrays and
    does one (n_shingles × num_perm) numpy min per row — Arrow-batched,
    ~10^8 lanes/sec/core. Interpreted HOF minhash (64 nested transforms)
    measured ~20x slower at sf0.1."""
    from pyspark.sql.functions import pandas_udf

    P = np.uint64(0x9E3779B97F4A7C15)
    mask = np.uint64(0xFFFFFFFFFFFFFFFF)

    def mix(x: np.ndarray) -> np.ndarray:
        x = (x * np.uint64(0xBF58476D1CE4E5B9)) & mask
        x ^= x >> np.uint64(27)
        x = (x * np.uint64(0x94D049BB133111EB)) & mask
        return x ^ (x >> np.uint64(31))

    perms = np.arange(num_perm, dtype=np.uint64)

    @pandas_udf(T.ArrayType(T.LongType()))
    def sig(base: pd.Series) -> pd.Series:
        out = []
        for arr in base:
            h1 = np.asarray(arr, dtype=np.int64).astype(np.uint64)
            h2 = mix(h1) | np.uint64(1)
            lanes = mix((h1[:, None] + perms[None, :] * h2[:, None]) & mask)
            out.append(lanes.min(axis=0).astype(np.int64))
        return pd.Series(out)

    return sig


def minhash_signature(shingles: Column, num_perm: int = 64) -> Column:
    """num_perm minhashes of a shingle array (hybrid JVM hash + numpy min)."""
    return _minhash_udf(num_perm)(base_shingle_hashes(shingles))


def shingle_frame(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 3
) -> DataFrame:
    """(id, sh) shingle-set frame, spread for compute. Build this ONCE and
    pass to both minhash_lsh_candidates and verify_jaccard when composing
    the full near-dup pipeline — shingling is the scan-side CPU cost and
    need not run three times."""
    from commoncrawl_fetcher_lite_spark.functions.letbind import spread_for_compute

    return (
        spread_for_compute(
            docs.select(F.col(id_col).alias("id"), F.col(text_col).alias("_t"))
        )
        # distinct=False (r7): every consumer of this frame is
        # multiplicity-invariant — minhash mins, array_intersect (returns
        # distinct elements), and verify's distinct-count — so the
        # per-row array_distinct pass here bought nothing.
        # inline(array(struct)) (r7): sh as a GENERATED attribute — a plain
        # aliased projection let the size>0 filter predicate-push below the
        # spread exchange, re-running the whole gram chain per row on the
        # narrow scan AND again in the wide projection (visible in the
        # executed plan: zip_with chain duplicated into the scan's
        # DataFilters). Generator outputs block that pushdown.
        .select(
            "id",
            F.inline(
                F.array(
                    F.struct(
                        word_shingles("_t", n, distinct=False).alias("sh")
                    )
                )
            ),
        )
        .where(F.size("sh") > 0)
    )


def lsh_bucket_frame(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_perm: int = 64,
    bands: int = 16,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """(id, band_id, band_hash) banded-minhash bucket frame — the
    JOINABLE (and PERSISTABLE) form of a corpus's LSH state: ~24 B ×
    `bands` rows per doc, no shingles, no signatures. Both the batch
    self-join (minhash_lsh_candidates) and the incremental
    batch-vs-state join (incremental_neardup) consume this shape.
    `shingles`: precomputed shingle_frame to reuse across stages."""
    from commoncrawl_fetcher_lite_spark.functions.letbind import let

    rows_per_band = num_perm // bands
    sh = shingles if shingles is not None else shingle_frame(docs, text_col, id_col, n)
    # one let-bound pass: signature computed once per row, band hashes
    # derived from the bound array (element_at with the band lambda var) —
    # no per-band re-evaluation of the shingle/minhash chain.
    bands_expr = let(
        minhash_signature(F.col("sh"), num_perm),
        lambda sig: F.transform(
            F.sequence(F.lit(0), F.lit(bands - 1)),
            lambda b: F.struct(
                b.alias("band_id"),
                F.xxhash64(
                    *[
                        F.element_at(sig, b * rows_per_band + r + 1)
                        for r in range(rows_per_band)
                    ]
                ).alias("band_hash"),
            ),
        ),
    )
    return sh.select("id", F.explode(bands_expr).alias("b")).select(
        "id", F.col("b.band_id").alias("band_id"), F.col("b.band_hash").alias("band_hash")
    )


def minhash_lsh_candidates(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_perm: int = 64,
    bands: int = 16,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Candidate near-dup pairs via banded minhash bucket join.

    bands=16, rows=4 over 64 perms → pairs with J≈0.5 caught w.p. ~0.88,
    J≈0.7 w.p. ~0.998. Output: (id_a, id_b) candidates, id_a < id_b.
    `shingles`: precomputed shingle_frame to reuse across stages."""
    buckets = lsh_bucket_frame(
        docs, text_col, id_col, n, num_perm, bands, shingles
    )
    # materialize once: the self-join would otherwise run the whole
    # shingle→minhash pipeline twice (once per side). localCheckpoint
    # instead of persist: stored blocks are GC-managed by ContextCleaner,
    # so long sessions don't accumulate CacheManager entries that only an
    # explicit unpersist (impossible on a lazily returned frame) would free.
    buckets = buckets.localCheckpoint(eager=True)
    return _bucket_pairs(buckets, ["band_id", "band_hash"])


def _bucket_pairs(buckets: DataFrame, keys: list[str]) -> DataFrame:
    """Distinct (id_a, id_b) pairs, id_a < id_b, of the rows of an
    (id, *keys) frame that agree on every key — the candidate step of a
    banded LSH self-join. `buckets` must already be materialized: each
    join side re-reads it."""
    a, b = buckets.alias("a"), buckets.alias("b")
    cond = None
    for k in keys:
        eq = F.col(f"a.{k}") == F.col(f"b.{k}")
        cond = eq if cond is None else cond & eq
    return (
        a.join(b, cond & (F.col("a.id") < F.col("b.id")))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )


def _jaccard_pairs(
    pairs: DataFrame, sh_a: DataFrame, sh_b: DataFrame, threshold: float
) -> DataFrame:
    """Exact Jaccard of each (id_a, id_b, …) pair, id_a's shingles taken
    from sh_a and id_b's from sh_b (both (id, sh) frames) → the pairs'
    columns plus an UNROUNDED jaccard, kept where ≥ threshold.

    Formula (r7): |A∩B| / (|A| + |B| − |A∩B|) with the distinct counts
    |A|,|B| computed ONCE PER DOC before the pair join — identical value
    to size(intersect)/size(union) (inclusion–exclusion; intersect and
    union both return distinct elements whatever the input multiplicity),
    but the per-PAIR array work halves (no array_union pass) — measured
    −26% on the sf1.0 verify stage. The jaccard value is emitted through
    inline(array(struct(…))) so the ≥threshold filter consumes a generated
    attribute instead of re-inlining the intersect expression (generator
    outputs block predicate pushdown — the letbind.py trick)."""
    from commoncrawl_fetcher_lite_spark.functions.letbind import let

    def side(sh: DataFrame, s: str) -> DataFrame:
        return sh.select(
            F.col("id").alias(f"id_{s}"),
            F.col("sh").alias(f"sh_{s}"),
            F.size(F.array_distinct("sh")).alias(f"_n{s}"),
        )

    jac = let(
        F.size(F.array_intersect("sh_a", "sh_b")),
        lambda i: i / (F.col("_na") + F.col("_nb") - i),
    )
    return (
        pairs.join(side(sh_a, "a"), "id_a")
        .join(side(sh_b, "b"), "id_b")
        .select(*pairs.columns, F.inline(F.array(F.struct(jac.alias("jaccard")))))
        .where(F.col("jaccard") >= threshold)
    )


def verify_jaccard(
    pairs: DataFrame,
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Exact Jaccard verification of candidate pairs (JVM set ops; the
    formula and plan shape are _jaccard_pairs'). `shingles`: precomputed
    shingle_frame to reuse (else recomputed). Output: (id_a, id_b,
    jaccard[round 4])."""
    sh = (
        shingles
        if shingles is not None
        else docs.select(
            F.col(id_col).alias("id"),
            word_shingles(text_col, n, distinct=False).alias("sh"),
        )
    )
    return _jaccard_pairs(pairs, sh, sh, threshold).select(
        "id_a", "id_b", F.round("jaccard", 4).alias("jaccard")
    )


def incremental_neardup(
    batch: DataFrame,
    state_buckets: DataFrame | None,
    corpus_docs: DataFrame | None,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_perm: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
) -> tuple[DataFrame, DataFrame]:
    """Near-dedup a NEW crawl batch against the EXISTING corpus without
    ever re-bucketing the corpus — the only shape that works when the
    corpus is 100 TB and the batch is a day's crawl: whole-corpus dedup
    is O(corpus) every run; this is O(batch + matched candidates).

    State is the skinny `lsh_bucket_frame` shape (id, band_id,
    band_hash — ~24 B × bands rows per doc, no shingles/signatures), the
    same append-only table the SnapshotStore pattern persists per crawl
    iteration (tests round-trip it through a store commit).

    Per batch:
      1. bucket the batch once (shingle → minhash → bands, checkpointed);
      2. candidates = batch ⋈ state on (band_id, band_hash)  — the state
         side is a bucket-keyed equi-join probe, never a scan-side
         recompute — PLUS the batch's internal self-join (a batch can
         duplicate itself);
      3. exact-Jaccard verify: shingles are re-derived ONLY for the
         candidate corpus docs (semi-join on matched ids → point reads
         of a tiny fraction of the corpus), batch-side shingles reused
         from step 1;
      4. each duplicate batch doc reports its canonical partner =
         MIN matching id (earlier corpus doc, or earlier batch doc),
         deterministic under any partitioning.

    Returns (dups, new_buckets):
      dups        — (doc_id, dup_of, jaccard[round 4]) one row per
                    duplicate batch doc;
      new_buckets — the batch's bucket frame, for the caller to append
                    to state (dups included: a near-dup can still be the
                    canonical partner of later arrivals).
    """
    sh_batch = shingle_frame(batch, text_col, id_col, n).localCheckpoint(
        eager=True
    )
    buckets = lsh_bucket_frame(
        batch, text_col, id_col, n, num_perm, bands, shingles=sh_batch
    ).localCheckpoint(eager=True)
    # every verified pair reports its batch doc as id_b and the candidate
    # as id_a: an internal pair's later doc is the duplicate
    verified = _jaccard_pairs(
        _bucket_pairs(buckets, ["band_id", "band_hash"]),
        sh_batch,
        sh_batch,
        threshold,
    )
    if state_buckets is not None:
        from commoncrawl_fetcher_lite_spark.functions.joins import (
            maybe_broadcast,
        )

        if corpus_docs is None:
            raise ValueError(
                "incremental_neardup: corpus_docs required to verify "
                "against a non-empty state (candidate shingle fetch)"
            )
        # the batch bucket frame is the SMALL side of the state join by
        # construction (a day's crawl vs the whole corpus) — when stats
        # prove it under the broadcast threshold, the state side streams
        # map-side with ZERO state shuffle, making the probe O(state
        # scan) not O(state shuffle). Giant batches stay stats-gated to
        # a shuffle join (the checkpointed frame reports row-based
        # stats, so the gate is accurate). The pairs feed both the
        # matched-corpus semi-join and the verify: checkpointed, so the
        # state is probed once (O(matched candidates) rows kept).
        a, s = buckets.alias("a"), state_buckets.alias("s")
        cand_state = (
            maybe_broadcast(a).join(
                s,
                (F.col("a.band_id") == F.col("s.band_id"))
                & (F.col("a.band_hash") == F.col("s.band_hash")),
            )
            .select(F.col("s.id").alias("id_a"), F.col("a.id").alias("id_b"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        # shingle ONLY the matched corpus docs: semi-join first, so the
        # 100 TB corpus contributes point reads, not a scan. The corpus
        # and batch shingle frames stay separate: a re-crawled doc can
        # carry the same id in both.
        matched = corpus_docs.join(
            cand_state.select(F.col("id_a").alias(id_col)).distinct(),
            id_col,
            "left_semi",
        )
        verified = verified.unionByName(
            _jaccard_pairs(
                cand_state,
                shingle_frame(matched, text_col, id_col, n),
                sh_batch,
                threshold,
            )
        )
    # canonical partner = MIN candidate id; one struct-min agg carries its
    # jaccard along (struct ordering is field-lexicographic, id_a first)
    dups = (
        verified.groupBy("id_b")
        .agg(F.min(F.struct(F.col("id_a"), F.col("jaccard"))).alias("_m"))
        .select(
            F.col("id_b").alias("doc_id"),
            F.col("_m.id_a").alias("dup_of"),
            F.round(F.col("_m.jaccard"), 4).alias("jaccard"),
        )
    )
    return dups, buckets


def ngram_jaccard_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """EXACT all-pairs n-gram Jaccard ≥ threshold (oracle-checkable O(n²)
    baseline; use minhash_lsh_candidates ∘ verify_jaccard at scale)."""
    sh = docs.select(
        F.col(id_col).alias("id"), word_shingles(text_col, n).alias("sh")
    ).where(F.size("sh") > 0)
    a = sh.select(F.col("id").alias("doc_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col("id").alias("doc_b"), F.col("sh").alias("sh_b"))
    return (
        a.join(b, F.col("doc_a") < F.col("doc_b"))
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("sh_a", "sh_b"))
            / F.size(F.array_union("sh_a", "sh_b")),
        )
        .where(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", F.round("jaccard", 4).alias("jaccard"))
    )


def duplicate_span_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
    stride: int = 4,
    min_shared: int = 5,
    max_df: int = 50,
) -> DataFrame:
    """Passage-level near-dup pairs: documents sharing >= `min_shared`
    winnowing fingerprints (text.fingerprint_set — md5 n-gram hashes,
    window-min winnowed). Catches COPIED SPANS (boilerplate paragraphs, quoted
    blocks, mirrored sections) that whole-document signatures miss when
    the surrounding text differs — the Lee et al. 2021 motivation for
    substring-level dedup, approximated here at fingerprint granularity
    so it stays a pure equi-join pipeline.

    Scale shape (the whole point vs naive substring dedup):
      1. fingerprint explode is map-only scan work (skinny ~40 B rows out);
      2. ONE groupBy(fp) computes document frequency; fingerprints with
         df < 2 (can't pair) or df > `max_df` (boilerplate "stop
         fingerprints" — the quadratic blowup source: a fp shared by 10^5
         docs would emit 10^10 pairs) are dropped BEFORE the self-join.
         The cap is the standard hot-shingle guard; dropped fps are
         near-universal spans that signal template text, not copying.
      3. self-join on fp over the pruned skinny frame, then
         groupBy(id_a, id_b) count — both shuffles keyed on small hashes,
         fan-out bounded by max_df per fingerprint.

    Output: (doc_id_a, doc_id_b, n_shared), id_a < id_b.
    """
    from commoncrawl_fetcher_lite_spark.operators.text import fingerprint_set

    # df gate as groupBy(fp).count() + semi-join back, NOT count-over-
    # Window.partitionBy(fp): a boilerplate fingerprint shared by 10^6
    # docs — the exact row class max_df exists to kill — would buffer as
    # ONE 10^6-row window group in a single task before the filter ever
    # saw it. groupBy's map-side partial aggregation collapses the hot
    # key to one row per task, so no stage ever concentrates it; the
    # extra shuffle is over the (fp, count) frame, which is strictly
    # smaller than the explode. The explode itself is checkpointed ONCE
    # so the agg and the semi-join probe both read the materialized
    # skinny frame instead of re-tokenizing.
    fps = fingerprint_set(
        docs, text_col, id_col, n=n, stride=stride
    ).localCheckpoint(eager=True)
    passing = (
        fps.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("df"))
        .where((F.col("df") >= 2) & (F.col("df") <= max_df))
        .select("fp")
    )
    # materialize the pruned frame once: the self-join below would
    # otherwise run the semi-join once per side
    pruned = fps.join(passing, "fp", "left_semi").localCheckpoint(eager=True)
    a = pruned.alias("a")
    b = pruned.alias("b")
    return (
        a.join(
            b,
            (F.col("a.fp") == F.col("b.fp")) & (F.col("a.id") < F.col("b.id")),
        )
        .groupBy(
            F.col("a.id").alias("doc_id_a"), F.col("b.id").alias("doc_id_b")
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .where(F.col("n_shared") >= min_shared)
    )


def line_dedup(
    lines: DataFrame,
    id_col: str = "doc_id",
    pos_col: str = "line_no",
    line_col: str = "line",
) -> DataFrame:
    """C4-style cross-document line deduplication (Raffel et al. 2020
    §2.2 dropped any three-sentence span occurring more than once in the
    corpus; this is the same rule at line granularity): every line keeps
    only its FIRST occurrence in corpus order (doc_id, then position) —
    later occurrences are dropped — and each document's surviving lines
    are stitched back in order.

    Input: one row per line (id, position, text) — callers split on
    whatever "line" means for their corpus (newlines, sentences, fixed
    token blocks). Output: (doc_id, clean_text, n_kept, n_dropped);
    documents whose every line was dropped still appear (clean_text '').

    Scale shape: ONE shuffle on md5(line) for the first-occurrence
    window (a group's buffered rows = that line's duplicate count —
    bounded by how duplicated the corpus is, spill-able), one shuffle on
    doc_id for the rebuild. The window carries the line text because the
    rebuild needs it anyway — there is no second pass to fetch payloads.
    Keyed on the 128-bit md5, not the raw line, so hot-line group
    routing cost doesn't scale with line length.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(F.md5(F.col(line_col))).orderBy(
        F.col(id_col), F.col(pos_col)
    )
    marked = lines.withColumn("_rn", F.row_number().over(w))
    return (
        marked.groupBy(F.col(id_col).alias("doc_id"))
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("_rn") == 1,
                                F.struct(
                                    F.col(pos_col).alias("p"),
                                    F.col(line_col).alias("l"),
                                ),
                            )
                        )
                    ),
                    lambda s: s["l"],
                ),
                " ",
            ).alias("clean_text"),
            F.sum(F.when(F.col("_rn") == 1, 1).otherwise(0))
            .cast("long")
            .alias("n_kept"),
            F.sum(F.when(F.col("_rn") != 1, 1).otherwise(0))
            .cast("long")
            .alias("n_dropped"),
        )
    )


# -------------------------------------------------------- decontamination


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    min_overlap: int = 1,
) -> DataFrame:
    """Benchmark decontamination: flag training docs sharing ≥ min_overlap
    word n-grams with a held-out benchmark set (the standard test-set
    overlap removal step in LLM data pipelines; GPT-3-style 13-gram rule =
    n=13, min_overlap=1).

    Plan shape for 100 TB: the benchmark side is small by construction
    (eval sets), so its distinct shingles BROADCAST; the corpus side
    explodes shingles and semi-joins in-map (no corpus shuffle until the
    per-doc count agg on the 8-byte doc id). Output: one row per input doc
    with (n_overlap, contaminated)."""
    bench_sh = (
        benchmark.select(F.explode(word_shingles(text_col, n)).alias("sh"))
        .distinct()
    )
    from commoncrawl_fetcher_lite_spark.functions.letbind import (
        spread_for_compute,
    )

    doc_sh = spread_for_compute(docs).select(
        F.col(id_col).alias("id"), F.explode(word_shingles(text_col, n)).alias("sh")
    )
    # count(1), not countDistinct (r7): word_shingles emits each doc's
    # DISTINCT shingles, so the exploded rows are already unique per id —
    # the distinct-aggregate machinery (per-group dedup hash) buys nothing
    overlaps = (
        doc_sh.join(F.broadcast(bench_sh), "sh", "left_semi")
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("n_overlap"))
    )
    return (
        docs.select(F.col(id_col).alias("id"))
        .join(overlaps, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce(F.col("n_overlap"), F.lit(0)).alias("n_overlap"),
            (F.coalesce(F.col("n_overlap"), F.lit(0)) >= min_overlap).alias(
                "contaminated"
            ),
        )
    )


def contamination_report(
    docs: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> DataFrame:
    """decontaminate's graded sibling: instead of a binary ≥min_overlap
    flag, report the FRACTION of each document's distinct n-grams that
    appear in the benchmark — the form thresholded policies are written
    in (e.g. PaLM/Llama-style "drop if ≥70% of 8-grams overlap a test
    set", vs GPT-3's any-13-gram rule, both expressible downstream).

    Output: (doc_id, n_shingles, n_overlap, overlap_frac[round 6]).
    Documents too short to shingle report n_shingles = 0, frac 0.0.

    Plan shape: identical to decontaminate — benchmark shingles
    broadcast, corpus side semi-joined in-map — plus one distinct-count
    of the doc's own shingles computed in the SAME groupBy (no extra
    shuffle: both aggregates key on the doc id)."""
    bench_sh = (
        benchmark.select(F.explode(word_shingles(text_col, n)).alias("sh"))
        .distinct()
    )
    from commoncrawl_fetcher_lite_spark.functions.letbind import (
        spread_for_compute,
    )

    doc_sh = spread_for_compute(docs).select(
        F.col(id_col).alias("id"),
        F.explode(word_shingles(text_col, n)).alias("sh"),
    )
    marked = doc_sh.join(
        F.broadcast(bench_sh.withColumn("_hit", F.lit(1))), "sh", "left"
    )
    # plain counts, not countDistinct (r7): the exploded shingles are
    # per-doc DISTINCT already (word_shingles default), so count(1) and
    # count(when hit) are value-identical and skip the distinct-agg
    # Expand/dedup machinery entirely
    per_doc = marked.groupBy("id").agg(
        F.count(F.lit(1)).alias("n_shingles"),
        F.count(
            F.when(F.col("_hit").isNotNull(), F.lit(1))
        ).alias("n_overlap"),
    )
    return (
        docs.select(F.col(id_col).alias("id"))
        .join(per_doc, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce(F.col("n_shingles"), F.lit(0)).alias("n_shingles"),
            F.coalesce(F.col("n_overlap"), F.lit(0)).alias("n_overlap"),
            F.round(
                F.coalesce(F.col("n_overlap"), F.lit(0))
                / F.greatest(
                    F.coalesce(F.col("n_shingles"), F.lit(0)), F.lit(1)
                ).cast("double"),
                6,
            ).alias("overlap_frac"),
        )
    )


# ---------------------------------------------------------------- simhash


def portable_token_hashes(text_col: Column | str) -> Column:
    """64-bit token hashes built from md5 hex prefixes, entirely JVM-side.

    md5 produces identical hex in Spark and DuckDB, so SimHash over these
    hashes is oracle-checkable cross-engine (xxhash64 is Spark-only). The
    two 32-bit halves are parsed separately with conv() and packed with a
    wrapping shiftleft (Java shift semantics) into one signed int64 whose
    bit pattern equals the first 16 hex chars of md5(token)."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    toks = F.split(F.trim(c), r"\s+")
    md5s = F.transform(toks, lambda w: F.md5(w))
    return F.transform(
        md5s,
        lambda h: F.shiftleft(
            F.conv(F.substring(h, 1, 8), 16, 10).cast("long"), 32
        ).bitwiseOR(F.conv(F.substring(h, 9, 8), 16, 10).cast("long")),
    )


def _simhash_pack_udf():
    """Bit-vote packing: token hashing already happened JVM-side; Python
    sees only int64 arrays and does one (n_tokens × 64) numpy sign-sum per
    row — Arrow-batched, no per-token Python."""
    from pyspark.sql.functions import pandas_udf

    shifts = np.arange(64, dtype=np.uint64)

    @pandas_udf(T.LongType())
    def pack(th: pd.Series) -> pd.Series:
        out = np.zeros(len(th), dtype=np.uint64)
        for i, arr in enumerate(th):
            if arr is None or len(arr) == 0:
                continue
            hs = np.asarray(arr, dtype=np.int64).astype(np.uint64)
            bits = ((hs[:, None] >> shifts) & np.uint64(1)).astype(np.int32)
            votes = (bits * 2 - 1).sum(axis=0)
            out[i] = np.bitwise_or.reduce((votes > 0).astype(np.uint64) << shifts)
        return pd.Series(out.view(np.int64))

    return pack


def with_simhash(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """64-bit SimHash per doc: majority vote over token-hash bits.

    Hashing is JVM-side (portable_token_hashes); the Arrow UDF only packs
    votes (numpy, no per-token Python). Bit b is set iff strictly more
    tokens have bit b set than clear — the same tie rule the DuckDB oracle
    uses (sum of ±1 votes > 0)."""
    from commoncrawl_fetcher_lite_spark.functions.letbind import spread_for_compute

    sel = spread_for_compute(
        docs.select(
            F.col(id_col).alias("id"),
            portable_token_hashes(text_col).alias("th"),
        )
    )
    return sel.select("id", _simhash_pack_udf()(F.col("th")).alias("simhash"))


def simhash_neardup_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
) -> DataFrame:
    """Near-dup pairs with Hamming(simhash) ≤ max_hamming via chunk
    bucketing, then exact popcount verify — both JVM-side.

    Chunk count derives from the parameter: max_hamming+1 chunks guarantee
    by pigeonhole that any pair within distance max_hamming shares ≥1
    identical chunk (candidate recall is exact, not probabilistic)."""
    if not 0 <= max_hamming <= 63:
        raise ValueError(f"max_hamming must be in [0, 63], got {max_hamming}")
    n_chunks = max_hamming + 1
    bounds = [(c * 64 // n_chunks, (c + 1) * 64 // n_chunks) for c in range(n_chunks)]
    sh = with_simhash(docs, text_col, id_col)

    def _chunk(lo: int, hi: int) -> Column:
        width = hi - lo
        shifted = F.shiftright(F.col("simhash"), lo)
        if width >= 64:
            return F.col("simhash")
        return shifted.bitwiseAND(F.lit((1 << width) - 1))

    chunks = F.array(
        *[
            F.struct(
                F.lit(c).alias("chunk_id"),
                _chunk(lo, hi).alias("chunk"),
            )
            for c, (lo, hi) in enumerate(bounds)
        ]
    )
    buckets = sh.select("id", "simhash", F.explode(chunks).alias("c")).select(
        "id", "simhash", F.col("c.chunk_id").alias("chunk_id"), F.col("c.chunk").alias("chunk")
    )
    # self-join would recompute simhash twice; localCheckpoint (not persist)
    # so the blocks are GC-reclaimed once the result frame is dropped
    buckets = buckets.localCheckpoint(eager=True)
    a, b = buckets.alias("a"), buckets.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.chunk_id") == F.col("b.chunk_id"))
            & (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.simhash").alias("sh_a"),
            F.col("b.simhash").alias("sh_b"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return cand.withColumn("hamming", hamming).where(
        F.col("hamming") <= max_hamming
    ).select("id_a", "id_b", "hamming")


# ------------------------------------------------- embedding near-dup


def embedding_neardup_pairs(
    emb: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
) -> DataFrame:
    """Exact cosine near-dup pairs (O(n²) baseline; the LSH-bucketed scale
    path lives in similarity.py). Double precision, explicit formula."""
    from commoncrawl_fetcher_lite_spark.operators.similarity import _dot, _norm

    v = emb.select(
        F.col(id_col).alias("id"), F.col(vec_col).cast("array<double>").alias("v")
    ).withColumn("n", _norm("v"))
    a = v.select(F.col("id").alias("id_a"), F.col("v").alias("va"), F.col("n").alias("na"))
    b = v.select(F.col("id").alias("id_b"), F.col("v").alias("vb"), F.col("n").alias("nb"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn(
            "cos_sim", F.round(_dot("va", "vb") / (F.col("na") * F.col("nb")), 6)
        )
        .where(F.col("cos_sim") >= threshold)
        .select("id_a", "id_b", "cos_sim")
    )


# ------------------------------------------- dedup cluster assignment


def dedup_clusters(
    pairs: DataFrame,
    docs: DataFrame | None = None,
    id_a: str = "id_a",
    id_b: str = "id_b",
    id_col: str = "doc_id",
    max_iter: int = 25,
) -> DataFrame:
    """Connected components over near-dup pairs → (doc_id, cluster_id)
    with cluster_id = the smallest member id (canonical representative).

    This is the step from pair DETECTION (minhash/simhash/embedding) to
    corpus DEDUP: keep rows where cluster_id == doc_id, drop the rest —
    transitive closure matters because near-dup is not transitive at the
    pair level (A~B, B~C but A!~C still must collapse to one exemplar).

    Iterative min-label propagation WITH pointer doubling: each round
    first takes label(n) <- min(label(n), min over neighbors' labels),
    then compresses label(n) <- label(label(n)) — the doubling halves
    remaining chain depth every round, so convergence is O(log diameter)
    instead of O(diameter) (a 300-node path converges in ~10 rounds, not
    300). The doubling join is GATED: round 1 runs propagation only,
    because near-dup graphs are shallow stars/cliques around exemplars
    that converge in 1-2 propagation hops — paying an extra join +
    eager checkpoint per round for them buys nothing (measured +15-70%
    on the sf0.1 bench). Deep chains lose at most one round to the gate
    and keep the O(log diameter) bound from round 2 on. Each round is
    one or two shuffles on the node key; labels are localCheckpointed
    per round so the plan stays flat (no exponentially nested joins).
    max_iter bounds pathology and the loop RAISES if still unconverged
    (partial labels are wrong, not approximate). When `docs` is given,
    docs in no pair appear as singletons (cluster_id = own id)."""
    edges = pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
    edges = edges.unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).localCheckpoint(eager=True)  # reused every round

    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint(eager=True)
    )
    changed = 0
    for it in range(max_iter):
        prop = (
            edges.join(labels, F.col("dst") == F.col("node"))
            .groupBy("src")
            .agg(F.min("label").alias("nbr"))
        )
        stepped = labels.join(prop, F.col("node") == F.col("src"), "left").select(
            "node",
            "label",
            F.least(F.col("label"), F.coalesce("nbr", "label")).alias("new_label"),
        )
        if it >= 1:
            # pointer doubling: follow the label's own label one hop —
            # label(label(n)) is a member of the same component with an
            # equal-or-smaller id, so min-label semantics are preserved
            # while chain depth halves per round. Gated off in round 1:
            # stars/cliques (the common near-dup shape) finish with one
            # propagation hop and would pay the extra join + checkpoint
            # for nothing; deep chains lose at most one round and keep
            # the O(log diameter) bound from round 2 on.
            lab2 = stepped.select(
                F.col("node").alias("p_node"), F.col("new_label").alias("p_label")
            )
            stepped = stepped.join(
                lab2, stepped["new_label"] == lab2["p_node"], "left"
            ).select(
                "node",
                "label",
                F.least(
                    F.col("new_label"), F.coalesce("p_label", "new_label")
                ).alias("new_label"),
            )
        # the round's change count rides on its checkpoint job (a fresh
        # Observation per round) instead of a separate count() job
        obs = Observation()
        stepped = stepped.observe(
            obs, F.count_if(F.col("new_label") < F.col("label")).alias("n")
        ).localCheckpoint(eager=True)
        changed = obs.get["n"]
        labels = stepped.select("node", F.col("new_label").alias("label"))
        if changed == 0:
            break
    if changed != 0:
        # partially-propagated labels are WRONG cluster ids, not an
        # approximation — fail loudly rather than return them (a component
        # whose diameter exceeds max_iter; raise max_iter or pre-bucket)
        raise RuntimeError(
            f"dedup_clusters did not converge in {max_iter} rounds "
            f"({changed} labels still changing); raise max_iter"
        )

    out = labels.select(
        F.col("node").alias(id_col), F.col("label").alias("cluster_id")
    )
    if docs is not None:
        singles = docs.select(id_col).join(out, id_col, "left_anti")
        out = out.unionByName(
            singles.withColumn("cluster_id", F.col(id_col))
        )
    return out
