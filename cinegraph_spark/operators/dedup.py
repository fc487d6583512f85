"""Deduplication operators for LLM training-data pipelines (SURVEY §2.10,
north-star additions). All deterministic: content hashes are md5 /
xxhash64 of explicit strings, no RNG, so results are stable across runs
and cluster sizes.

Four tiers, cheapest-first — the 100 TB strategy is to knock out exact dups
with one shuffle, then LSH-bucket the near-dup search so the candidate join
is band-local (never an O(n²) cross join):

- :func:`exact_dedup`       — hash-groupBy on normalized text; one shuffle.
- :func:`shingles`          — n-gram shingling (tokens or chars).
- :func:`minhash_signatures`/:func:`lsh_candidate_pairs` — MinHash + banded
  LSH: candidates only within equal (band, band_hash) buckets.
- :func:`simhash64`         — 64-bit SimHash per doc; near-dups have small
  Hamming distance.
- :func:`jaccard_pairs`     — exact n-gram Jaccard on a candidate pair set
  (verification step after LSH, or standalone on rare-shingle candidates).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Exact dedup: group by md5 of the RAW text (callers normalize first
    if they want normalization — see functions/text_clean.py); keep the
    minimum id as representative. Returns (text_hash, keep_id, n_copies,
    all_ids)."""
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("text_hash"))
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count("*").alias("n_copies"),
            F.sort_array(F.collect_list(id_col)).alias("all_ids"),
        )
    )


def shingles(
    df: DataFrame, id_col: str, tokens_col: str, n: int = 8
) -> DataFrame:
    """Distinct n-token shingles per document: (id, shingle).

    Built with sequence+transform+explode — pure JVM, one output row per
    shingle; `distinct` within doc via array_distinct before the explode
    (cheaper than a post-explode distinct shuffle).

    Zero-token documents (empty, whitespace-only, NULL text) emit NO
    shingles and therefore never enter near-dup pair discovery: "no
    content" is not "duplicate content", and at corpus scale every empty
    document would otherwise share one degenerate ''-shingle bucket — a
    quadratic pair bomb held back only by the max-DF cap (r17
    adversarial sweep; the DuckDB oracles drop the same rows).
    """
    count = F.size(F.col(tokens_col)) - (n - 1)
    shingle_arr = (
        F.when(
            count > 0,
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(1), count),
                    lambda i: F.array_join(
                        F.slice(F.col(tokens_col), i, n), " "
                    ),
                )
            ),
        )
        .when(
            F.size(F.col(tokens_col)) > 0,
            F.array(F.array_join(F.col(tokens_col), " ")),
        )
        .otherwise(F.array().cast("array<string>"))
    )
    return df.select(F.col(id_col), F.explode(shingle_arr).alias("shingle"))


def minhash_signatures(
    sh: DataFrame, id_col: str, num_perm: int = 32
) -> DataFrame:
    """MinHash signature per doc: hash each shingle string ONCE
    (``base = xxhash64(shingle)``), then derive the ``num_perm`` independent
    streams as ``xxhash64(base, s)`` — re-hashing 8 bytes per stream instead
    of the full ~50-byte shingle text, the standard one-hash-many-
    permutations construction. Output: (id, sig: array<long>[num_perm]).

    One aggregation: per doc, min of each of the ``num_perm`` hash streams —
    map-side combine keeps the shuffle at num_perm longs per doc.
    """
    # materialize the base hash in its own projection so the string is
    # hashed exactly once (not relying on codegen CSE across 32 exprs)
    based = sh.select(F.col(id_col), F.xxhash64("shingle").alias("_base"))
    hashed = based.select(
        F.col(id_col),
        *[F.xxhash64("_base", F.lit(s)).alias(f"_h{s}") for s in range(num_perm)],
    )
    agg = hashed.groupBy(id_col).agg(
        *[F.min(f"_h{s}").alias(f"_m{s}") for s in range(num_perm)]
    )
    return agg.select(
        F.col(id_col),
        F.array(*[F.col(f"_m{s}") for s in range(num_perm)]).alias("sig"),
    )


#: LSH scale contract: (band, band_hash) buckets holding more than this many
#: documents are excluded from pair emission (see :func:`lsh_candidate_pairs`).
DEFAULT_MAX_BUCKET = 64


def lsh_candidate_pairs(
    sigs: DataFrame,
    id_col: str,
    bands: int = 8,
    rows: int = 4,
    max_bucket: int | None = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """Banded LSH: split the signature into ``bands`` bands of ``rows``
    values; docs sharing any band hash become candidate pairs (a < b).

    The join key is (band, band_hash) — at 100 TB this is the only shuffle;
    no cross join ever happens. **Scale contract**: the self-join is
    quadratic *within* a bucket, and at corpus scale degenerate buckets are
    a certainty, not an edge case — boilerplate pages, empty/near-empty
    docs, and templated text agree on every band, and one million-doc
    bucket would emit ~10¹² pairs. Buckets larger than ``max_bucket`` are
    therefore dropped before the join (mirroring
    :data:`DEFAULT_MAX_SHINGLE_DF` in :func:`jaccard_pairs`): worst-case
    join output is ``n_buckets × max_bucket²`` regardless of skew. What an
    over-full bucket contains is a mass-duplication cluster — exact or
    near-exact copies that tier-1 :func:`exact_dedup` already owns; LSH's
    job is the *rare* near-dup tail. The cap is implemented as a
    map-side-combinable bucket count plus a broadcast anti-join on the
    (few) oversized keys, so no giant bucket is ever collected anywhere.
    Pass ``max_bucket=None`` for uncapped semantics.
    """
    # Fail LOUDLY on a mis-sized signature: under Spark 4's ANSI default a
    # short sig would die mid-stage with an anonymous element_at
    # INVALID_ARRAY_INDEX error (and under non-ANSI, worse: NULLs silently
    # skipped by concat_ws degrade every band hash). The guard names both
    # knobs; when the branch never fires it costs one array-size compare.
    need = bands * rows
    checked = F.when(F.size("sig") >= need, F.col("sig")).otherwise(
        F.raise_error(
            F.lit(
                f"lsh_candidate_pairs: bands*rows={need} exceeds the "
                "signature length — pass num_perm >= bands*rows to "
                "minhash_signatures"
            )
        )
    )
    banded = sigs.select(
        F.col(id_col),
        F.posexplode(
            F.array(
                *[
                    F.xxhash64(
                        F.concat_ws(
                            ":",
                            *[
                                F.element_at(checked, b * rows + r + 1)
                                for r in range(rows)
                            ],
                        )
                    )
                    for b in range(bands)
                ]
            )
        ).alias("band", "band_hash"),
    )
    if max_bucket is not None:
        oversized = (
            banded.groupBy("band", "band_hash")
            .agg(F.count("*").alias("_n"))
            .filter(F.col("_n") > max_bucket)
            .select("band", "band_hash")
        )
        banded = banded.join(
            F.broadcast(oversized), ["band", "band_hash"], "left_anti"
        )
    a = banded.select(
        F.col(id_col).alias("id_a"), "band", "band_hash"
    )
    b = banded.select(F.col(id_col).alias("id_b"), "band", "band_hash")
    return (
        a.join(b, ["band", "band_hash"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


#: discovery-mode scale contract: shingles appearing in more than this many
#: documents are dropped before the self-join (see :func:`jaccard_pairs`).
DEFAULT_MAX_SHINGLE_DF = 20


def jaccard_pairs(
    sh: DataFrame,
    id_col: str,
    candidates: DataFrame | None = None,
    max_df: int | None = DEFAULT_MAX_SHINGLE_DF,
) -> DataFrame:
    """Exact Jaccard over distinct shingle sets for candidate pairs.

    Without ``candidates``, pairs are discovered through shared shingles.
    **Scale contract**: in discovery mode, shingles whose document frequency
    exceeds ``max_df`` are dropped from both the pair discovery *and* the
    per-doc set sizes (Jaccard over the bounded-DF shingle subsets). A
    shared-shingle self-join produces DF² rows per shingle — one hot
    shingle ("the the the…") in a skewed 100 TB corpus makes the join
    quadratic in its DF and stalls the stage; the cap bounds every
    shingle's fan-out at max_df², so worst-case join output is
    ``n_shingles × max_df²`` regardless of skew. True near-duplicates
    (Jaccard ≥ 0.6 over 8-gram shingles) share many *rare* shingles, so
    dropping ubiquitous ones does not lose real pairs — the same reasoning
    as IDF weighting. Pass ``max_df=None`` for uncapped semantics.

    With ``candidates`` (the LSH-verification path), the DF cap is not
    applied — the verification wants the true full-set Jaccard — but the
    shingle stream IS first restricted to documents that appear in
    ``candidates`` (a semi-join on the id union): the shared-shingle
    self-join below is otherwise *shingle*-bounded, not candidate-bounded,
    and one ubiquitous shingle would emit DF² rows that no later semi-join
    can prune (Catalyst cannot push an (id_a, id_b) pair filter below the
    join). After the restriction the join's fan-out is bounded by the
    candidate set, which the LSH bucket cap already bounded. Output:
    (id_a, id_b, n_a, n_b, n_common, jaccard).

    Discovery-mode physical shape: an inverted index — ONE shuffle groups
    shingles into per-shingle posting lists, and pairs are emitted from
    each list with array expressions (≤ max_df²/2 per shingle, map-side).
    The DF cap is applied with a window count BEFORE the posting lists are
    aggregated: the window operator's per-group buffer spills to disk, so
    a degenerate shingle with DF=10⁷ streams through and is filtered,
    whereas a ``collect_list``-then-filter would first materialize its
    entire posting array in one in-memory aggregation buffer. The window
    and the aggregation share one hash-partitioning on ``shingle`` (no
    second Exchange — pinned by tests/test_review_r9.py). The shingle
    strings cross the wire once; everything downstream is compact id pairs.
    """
    if candidates is None:
        grouped = sh
        if max_df is not None:
            from pyspark.sql import Window

            w = Window.partitionBy("shingle")
            grouped = sh.withColumn(
                "_df", F.count(F.lit(1)).over(w)
            ).filter(F.col("_df") <= max_df)
        postings = grouped.groupBy("shingle").agg(
            F.sort_array(F.collect_list(id_col)).alias("ids")
        )
        sizes = (
            postings.select(F.explode("ids").alias(id_col))
            .groupBy(id_col)
            .agg(F.count("*").alias("n_sh"))
        )
        # all (a, b) with a < b from each sorted posting list
        pair_structs = F.flatten(
            F.transform(
                "ids",
                lambda x, i: F.transform(
                    F.slice("ids", i + 2, F.size("ids")),
                    lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
                ),
            )
        )
        common = (
            postings.filter(F.size("ids") >= 2)
            .select(F.explode(pair_structs).alias("p"))
            .select("p.id_a", "p.id_b")
            .groupBy("id_a", "id_b")
            .agg(F.count("*").alias("n_common"))
        )
    else:
        # the candidate frame (often itself a multi-stage LSH plan) is
        # consumed THREE times below — twice by the id union, once by the
        # final pair semi-join. Without staging, each consumer re-executes
        # the entire candidate lineage (the sweep after the r9 semi-join
        # fix measured dedup_minhash_lsh_pairs at 64 shuffles vs 11
        # staged — three full corpus passes at scale). Lazy localCheckpoint
        # materializes it once on first action.
        candidates = candidates.localCheckpoint(eager=False)
        cand_ids = (
            candidates.select(F.col("id_a").alias(id_col))
            .union(candidates.select(F.col("id_b").alias(id_col)))
            .distinct()
        )
        # restrict to candidate documents BEFORE the self-join (see
        # docstring); their full shingle sets are retained, so n_a/n_b/
        # n_common — and therefore the Jaccard — are unchanged.
        sh_c = sh.join(cand_ids, id_col, "left_semi")
        sizes = sh_c.groupBy(id_col).agg(F.count("*").alias("n_sh"))
        a = sh_c.select(F.col(id_col).alias("id_a"), "shingle")
        b = sh_c.select(F.col(id_col).alias("id_b"), "shingle")
        common = (
            a.join(b, "shingle")
            .filter(F.col("id_a") < F.col("id_b"))
            .groupBy("id_a", "id_b")
            .agg(F.count("*").alias("n_common"))
            .join(candidates, ["id_a", "id_b"], "left_semi")
        )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("n_b"))
    return (
        common.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            "n_a",
            "n_b",
            "n_common",
            (
                F.col("n_common")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
            ).alias("jaccard"),
        )
    )


def simhash64(df: DataFrame, id_col: str, tokens_col: str) -> DataFrame:
    """64-bit SimHash per document over token hashes.

    For each bit position j, sum +1/-1 votes of xxhash64(token)'s bit j over
    all tokens; bit j of the simhash is 1 iff the sum is positive. Pure
    column arithmetic: one explode + one 64-column conditional sum.
    """
    tok = df.select(F.col(id_col), F.explode(tokens_col).alias("tok"))
    h = tok.select(id_col, F.xxhash64("tok").alias("h"))
    votes = h.groupBy(id_col).agg(
        *[
            F.sum(
                F.when(F.shiftright("h", j).bitwiseAND(F.lit(1)) == 1, 1).otherwise(
                    -1
                )
            ).alias(f"_b{j}")
            for j in range(64)
        ]
    )
    sim = F.lit(0).cast("long")
    for j in range(64):
        sim = sim + F.when(F.col(f"_b{j}") > 0, F.lit(1).cast("long") * (2**j if j < 63 else -(2**63))).otherwise(0)
    return votes.select(F.col(id_col), sim.alias("simhash"))


def repeated_ngram_span_mask(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 5,
    min_df: int = 2,
) -> DataFrame:
    """Cross-document repeated-span removal (the RefinedWeb / MassiveText
    "exact substring dedup" family, at token-k-gram granularity): any
    k-token gram that occurs in ``min_df`` or more DISTINCT documents is a
    boilerplate span; every word position covered by such a gram is masked
    out of every document that contains it. Symmetric removal (no
    first-occurrence survivor) keeps the operator deterministic and
    partition-invariant — no global document order is consulted.

    Returns one row per input document:
    ``(id_col, n_words, n_dup_starts, n_kept, clean_text)`` where
    ``dup_starts`` are the 0-based start positions of duplicated grams and
    ``clean_text`` is the document with covered positions removed (empty
    string when everything was boilerplate).

    100 TB shape — LINEAR, no quadratic pair emission anywhere:
    - one shuffle groups gram occurrences for the distinct-doc count
      (partial aggregation map-side; a degenerate gram in millions of
      documents is a single spillable aggregation group, never a pair
      explosion — unlike near-dup pair discovery, each occurrence joins
      the dup set exactly once);
    - one shuffle collects per-document duplicated start positions
      (bounded by the document's own length);
    - one join back to the corpus on the document id.
    Gram strings cross the wire once; hash them (md5/xxhash64) before the
    shuffle at real scale if byte volume dominates — kept as strings here
    for exact cross-engine oracle parity.
    """
    words = F.split(F.col(text_col), " ")
    base = df.select(F.col(id_col), words.alias("ws"))
    # gram starts 0..n-k; sequence(0, n-k) would DESCEND for n<k, so gate
    sh = base.select(
        id_col,
        F.posexplode(
            F.when(
                F.size("ws") >= k,
                F.expr(
                    f"transform(sequence(0, size(ws) - {k}),"
                    f" i -> concat_ws(' ', slice(ws, i + 1, {k})))"
                ),
            ).otherwise(F.expr("CAST(array() AS array<string>)"))
        ).alias("start0", "gram"),
    )
    dup = (
        sh.groupBy("gram")
        .agg(F.countDistinct(id_col).alias("ndocs"))
        .filter(F.col("ndocs") >= min_df)
        .select("gram")
    )
    ds = (
        sh.join(dup, "gram")
        .groupBy(id_col)
        .agg(F.sort_array(F.collect_list("start0")).alias("dup_starts"))
    )
    out = base.join(ds, id_col, "left").select(
        id_col,
        F.size("ws").alias("n_words"),
        F.coalesce(F.col("dup_starts"), F.expr("CAST(array() AS array<int>)")).alias(
            "_starts"
        ),
        F.col("ws"),
    )
    kept = F.expr(
        "filter(ws, (w, i) -> NOT exists(_starts,"
        f" s -> s <= i AND i < s + {k}))"
    )
    return out.select(
        id_col,
        "n_words",
        F.size("_starts").alias("n_dup_starts"),
        F.size(kept).alias("n_kept"),
        F.concat_ws(" ", kept).alias("clean_text"),
    )


def cdc_chunks(
    df: DataFrame,
    text_col: str,
    id_col: str,
    mod: int = 16,
) -> DataFrame:
    """Content-defined chunking at word granularity (the rsync/LBFS/
    CDC-dedup family, applied to text): a word STARTS a new chunk when
    its portable hash ≡ 0 (mod ``mod``), so chunk boundaries are a pure
    function of local content — a one-word edit moves at most the two
    chunks around it, while fixed-size chunking would shift every later
    boundary. This is what lets chunk-hash dedup find PARTIAL overlap
    (shared boilerplate, quoted passages, re-posted fragments) that
    whole-document hashing misses.

    Returns one row per (document, chunk):
    ``(id_col, chunk_id, n_words, chunk_hash)`` with ``chunk_id`` the
    per-document running boundary count (consecutive; starts at 0 when
    the document opens mid-chunk, 1 when its first word is a boundary)
    and ``chunk_hash`` the md5 of the
    space-rejoined chunk words — identical across engines, so the whole
    operator carries an exact cross-engine oracle (the portable
    md5-prefix hash family shared with the minhash/CMS sketches).

    100 TB shape — strictly linear: one explode of the corpus into
    words, ONE per-document window for the boundary prefix-sum
    (partitioned by document — no global window), one hash aggregation
    on (doc, chunk). Expected chunk length is ``mod`` words
    (geometric); the tail is unbounded only for adversarial content
    whose words all hash off-boundary, where a chunk degrades to the
    whole document — the same per-document bound every doc-level
    operator here already carries (real CDC systems add a max-size cut,
    which would trade that bound for shift-sensitivity at the cut
    points). Whitespace class is the explicit ``[ \\t\\n\\r]`` on both
    engines — Java's ``\\s`` and RE2's disagree about vertical tab.
    """
    from pyspark.sql import Window

    words = df.select(
        F.col(id_col),
        F.posexplode(
            F.split(F.col(text_col), "[ \t\n\r]+")
        ).alias("pos", "word"),
    ).filter(F.col("word") != "")
    boundary = (
        F.conv(F.substring(F.md5("word"), 1, 8), 16, 10)
        .cast("bigint") % F.lit(int(mod)) == 0
    ).cast("int")
    w = (
        Window.partitionBy(id_col)
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    chunked = words.withColumn("chunk_id", F.sum(boundary).over(w))
    return (
        chunked.groupBy(id_col, "chunk_id")
        .agg(
            F.count("*").alias("n_words"),
            F.md5(
                F.array_join(
                    F.transform(
                        F.array_sort(
                            F.collect_list(F.struct("pos", "word"))
                        ),
                        lambda s: s["word"],
                    ),
                    " ",
                )
            ).alias("chunk_hash"),
        )
        .withColumn("chunk_id", F.col("chunk_id").cast("bigint"))
    )
