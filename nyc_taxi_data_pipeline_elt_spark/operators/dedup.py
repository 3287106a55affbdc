"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Scale design (the point of each variant):

- **exact**: hash groupBy on the key — one shuffle, map-side partial agg.
- **MinHash+LSH**: shingles are built with codegen'd operators (posexplode
  + window lead), signatures with one hash-aggregate on doc_id; only the
  band-bucket self-join shuffles beyond that, on band keys whose buckets
  are tiny by construction. This is the O(n)-ish near-dup path for 100 TB
  corpora — never all-pairs. (Array higher-order functions were measured
  25x slower here: Spark evaluates HOF lambdas interpreted, outside
  whole-stage codegen — avoid them on hot paths.)
- **SimHash**: per-token bit votes aggregated per doc — one shuffle on
  doc_id; collisions on the 64-bit print are near-dup candidates.
- **n-gram Jaccard**: exact pairwise similarity, but only over pairs
  sharing at least one shingle (inverted-index join), not the full cross
  product. Still quadratic in the worst case — use after LSH blocking at
  scale; here it doubles as the verifier for MinHash candidates.

Hashing of VALUES that reach results is md5: md5 is bit-identical
across Spark and DuckDB, which makes every operator oracle-checkable.
MinHash uses the *lexicographic* min of seed-prefixed md5 hex strings —
a valid min-wise hash family since md5 is uniform on the hex-string
order. LSH BAND KEYS are the exception (r14, guide §2.3 / VERDICT r13
#5): they are engine-internal join/group keys that never appear in any
output, so they are ``xxhash64`` longs (8 bytes) instead of 32-char md5
hex strings (~40 bytes with length header) — every exchange, cache
block and state row of the band index is ~60% narrower per key column,
which at corpus scale is the difference the shuffle pays for. Equality
structure is identical (same signature tuple <=> same band key, 64-bit
collisions aside), so candidate pairs — and therefore all results —
are unchanged; the DuckDB oracles compute collisions from their own
md5 band keys and never see ours.
"""

from __future__ import annotations

import warnings
from contextlib import contextmanager

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

from .confscope import loop_session, rebind

MINHASH_K = 12  # signature length
LSH_BANDS = 4  # 4 bands x 3 rows: candidate threshold ~ (1/4)^(1/3) ~ 0.63
LSH_ROWS = MINHASH_K // LSH_BANDS

_HEX = "0123456789abcdef"


def shingle_rows(
    docs: DataFrame, n: int = 3, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Word n-gram shingles as rows ``(id_col, s)``, with multiplicity.

    posexplode + window lead: every operator is whole-stage-codegen'd and
    the only shuffle is the window's hash partition on ``id_col``. Docs
    with fewer than ``n`` tokens produce no rows.

    Emitted as pre-built SQL (r13, guide §1.2 — same rationale as the
    similarity literal fold): the Column form cost ~76 ms of py4j
    dispatch per call across 8 call sites; the ANALYZED plan is pinned
    byte-identical to the Column form by
    ``tests/test_dedup_fold.py``, so the executed computation is
    unchanged.

    The split regex is spelled ``concat(chr(92), 's+')`` rather than
    the string literal ``'\\\\s+'`` (ADVICE r13): the literal's meaning
    flips under ``spark.sql.parser.escapedStringLiterals=true``, while
    the chr() form parses to the same ``\\s+`` pattern under EITHER
    parser mode and constant-folds to the identical plan literal —
    parser-config-independence at zero runtime cost.
    """
    win = f"OVER (PARTITION BY `{id_col}` ORDER BY pos)"
    leads = ", ".join(f"lead(tk, {j}) {win}" for j in range(1, n))
    return (
        docs.selectExpr(
            f"`{id_col}`",
            f"posexplode(split(trim(`{text_col}`), concat(chr(92), 's+')))"
            " AS (pos, tk)",
        )
        .selectExpr(
            f"`{id_col}`",
            f"concat_ws(' ', tk, {leads}) AS s",
            f"lead(tk, {n - 1}) {win} AS _guard",
        )
        .filter("_guard IS NOT NULL")
        .select(id_col, "s")
    )


def winnow_fingerprints(
    docs: DataFrame,
    n: int = 3,
    w: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    SIGMOD 2003 — the MOSS algorithm): hash every word ``n``-gram, then
    keep the minimum hash of each sliding window of ``w`` consecutive
    shingles. Guarantees a match for any shared run of
    ``n + w - 1`` tokens while storing ~2/(w+1) of the shingle hashes —
    the classic robust local fingerprint for plagiarism / overlap
    detection, one density knob up from MinHash's global signature.

    Physical shape: posexplode + two window passes that share the one
    hash partition on ``id_col`` (shingle build via ``lead``, window
    min via a rows frame), then a distinct — whose partial aggregation
    already collapses most duplicates map-side because consecutive
    windows usually share their minimum. Hashes are the first 8 md5 hex
    digits as a BIGINT, bit-identical in DuckDB.
    """
    tok = docs.select(
        F.col(id_col),
        F.posexplode(F.split(F.trim(F.col(text_col)), "\\s+")).alias(
            "pos", "tk"
        ),
    )
    win = Window.partitionBy(id_col).orderBy("pos")
    leads = [F.lead("tk", j).over(win) for j in range(1, n)]
    sh = (
        tok.select(
            F.col(id_col),
            "pos",
            F.concat_ws(" ", F.col("tk"), *leads).alias("s"),
            leads[-1].alias("_guard"),
        )
        .filter(F.col("_guard").isNotNull())
        .select(
            id_col,
            "pos",
            F.conv(F.substring(F.md5("s"), 1, 8), 16, 10)
            .cast("long")
            .alias("h"),
        )
    )
    frame = win.rowsBetween(0, w - 1)
    fp = (
        sh.select(
            F.col(id_col),
            F.min("h").over(frame).alias("fp"),
            F.lead("h", w - 1).over(win).alias("_full"),
        )
        .filter(F.col("_full").isNotNull())
        .select(id_col, "fp")
        .distinct()
    )
    return fp


def winnow_oracle_sql(
    n: int = 3, w: int = 4, table: str = "documents"
) -> str:
    """DuckDB twin of :func:`winnow_fingerprints`."""
    leads = ", ".join(
        f"lead(tk, {j}) OVER (PARTITION BY doc_id ORDER BY pos)"
        for j in range(1, n)
    )
    return f"""
WITH tok AS (
  SELECT doc_id,
         unnest(string_split_regex(trim(text), '\\s+')) AS tk,
         generate_subscripts(string_split_regex(trim(text), '\\s+'), 1) AS pos
  FROM {table}
), sh AS (
  SELECT doc_id, pos,
         concat_ws(' ', tk, {leads}) AS s,
         lead(tk, {n - 1}) OVER (PARTITION BY doc_id ORDER BY pos) AS _guard
  FROM tok
  QUALIFY _guard IS NOT NULL
), h AS (
  SELECT doc_id, pos,
         ('0x' || substr(md5(s), 1, 8))::BIGINT AS h
  FROM sh
), wmin AS (
  SELECT doc_id,
         min(h) OVER (PARTITION BY doc_id ORDER BY pos
                      ROWS BETWEEN CURRENT ROW AND {w - 1} FOLLOWING) AS fp,
         lead(h, {w - 1}) OVER (PARTITION BY doc_id ORDER BY pos) AS _full
  FROM h
  QUALIFY _full IS NOT NULL
)
SELECT DISTINCT doc_id, fp FROM wmin
"""


def lsh_band_keys(sig_prefix: str = "mh") -> list[Column]:
    """Collapse the signature into LSH_BANDS bucket keys — ``xxhash64``
    longs over each band's signature columns (r14: 8-byte join keys
    instead of 32-char md5 hex; see the module header — band keys are
    engine-internal, results are unchanged)."""
    keys = []
    for b in range(LSH_BANDS):
        cols = [F.col(f"{sig_prefix}{b * LSH_ROWS + r}") for r in range(LSH_ROWS)]
        keys.append(F.xxhash64(*cols).alias(f"band{b}"))
    return keys


def minhash_band_rows(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """MinHash LSH index rows ``(id_col, band_idx, band_key)`` — the
    persistable band index: signature = one hash-aggregate over the
    shingle rows (k mins computed map-side partial), then one row per
    band. This IS the stored state of an incremental dedup corpus.
    Band keys are ``xxhash64`` longs since r14 (see module header): an
    index persisted by an OLDER (md5-keyed) build must be rebuilt with
    this builder before joining new batches against it.

    Shape note: the explode-of-struct-array here was A/B'd against the
    direct ``posexplode``-of-key-array alternative at sf0.1 (isolated,
    median of 3 interleaved passes): 3.04 s vs 3.14 s through the full
    ``minhash_lsh_pairs`` plan — equivalent within noise, so the shared
    index-builder shape stays.

    Signature aggregate and band explode emitted as pre-built SQL (r13,
    guide §1.2): the Column form cost ~130 ms of py4j dispatch per call
    on top of ``shingle_rows``; the ANALYZED plan is pinned
    byte-identical to the Column form (including ``lsh_band_keys``) by
    ``tests/test_dedup_fold.py`` — same hashes, same band keys, same
    executed computation."""
    sh = shingle_rows(docs, n=3, id_col=id_col, text_col=text_col)
    sig = sh.groupBy(id_col).agg(
        *[
            F.expr(f"min(md5(concat('{seed}|', s))) AS mh{seed}")
            for seed in range(MINHASH_K)
        ]
    )
    bands = ", ".join(
        "struct({b} AS band_idx, "
        "xxhash64({cols}) AS band_key)".format(
            b=b,
            cols=", ".join(
                f"mh{b * LSH_ROWS + r}" for r in range(LSH_ROWS)
            ),
        )
        for b in range(LSH_BANDS)
    )
    return sig.selectExpr(
        f"`{id_col}`", f"explode(array({bands})) AS band"
    ).select(id_col, "band.band_idx", "band.band_key")


def incremental_minhash_dedup(
    new_docs: DataFrame,
    band_index: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> tuple[DataFrame, DataFrame]:
    """Dedup a NEW batch against an existing corpus WITHOUT touching the
    corpus text: the corpus exists only as its stored band index
    (:func:`minhash_band_rows` rows). Returns ``(dups, new_rows)`` —
    ``dups`` = distinct (new id, matched corpus id) colliding in >= 1
    band; ``new_rows`` = the batch's band rows, ready to append to the
    index for the next batch.

    This is the production shape of crawl-time dedup at 100 TB: per
    batch, cost is one signature aggregate over the NEW docs plus one
    equi-join against the index on (band_idx, band_key) — the historical
    corpus is never re-shingled, and the index join shuffles only band
    keys (or nothing at all if the index is bucketed on them).

    Raises ``TypeError`` when ``band_index.band_key`` is not a long: an
    index persisted by an older, md5-keyed build would join on NULLs and
    silently find no duplicates, so it must be rebuilt first.
    """
    key_type = band_index.schema["band_key"].dataType
    if not isinstance(key_type, LongType):
        raise TypeError(
            f"band index band_key is {key_type.simpleString()}, not bigint: "
            "it was built by an older md5-keyed build; rebuild the band "
            "index with minhash_band_rows before deduplicating against it"
        )
    new_rows = minhash_band_rows(new_docs, id_col=id_col, text_col=text_col)
    idx = band_index.select(
        F.col(id_col).alias("corpus_doc_id"), "band_idx", "band_key"
    )
    dups = (
        new_rows.select(F.col(id_col).alias("new_doc_id"), "band_idx", "band_key")
        .join(idx, ["band_idx", "band_key"])
        .select("new_doc_id", "corpus_doc_id")
        .distinct()
    )
    return dups, new_rows


def contamination_overlap(
    train: DataFrame,
    bench: DataFrame,
    n: int = 3,
    min_shared: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing at
    least ``min_shared`` distinct word ``n``-gram shingles with any
    benchmark document — the train/test-overlap scrub every LLM corpus
    needs before evaluation numbers mean anything.

    Returns ``(id_col, bench_doc_id, shared_shingles)``. Physical shape:
    the benchmark side's shingle index is BROADCAST (benchmarks are
    tiny relative to the training corpus by construction), so the check
    is a map-side join over the training shingles — no shuffle of the
    corpus at any scale; the aggregate shuffles only matched pairs.
    """
    t = shingle_rows(train, n=n, id_col=id_col, text_col=text_col).distinct()
    b = (
        shingle_rows(bench, n=n, id_col=id_col, text_col=text_col)
        .distinct()
        .select(F.col(id_col).alias("bench_doc_id"), "s")
    )
    return (
        t.join(F.broadcast(b), "s")
        .groupBy(id_col, "bench_doc_id")
        .agg(F.count("*").alias("shared_shingles"))
        .filter(F.col("shared_shingles") >= min_shared)
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Candidate near-duplicate pairs via banded MinHash.

    Returns distinct (doc_a, doc_b) with doc_a < doc_b that collide in at
    least one band. Signature = one hash-aggregate over the shingle rows
    (k mins computed map-side partial); the self-join shuffles on
    (band_idx, band_key) only.

    **Hot-bucket cap** (``max_bucket_size``): real corpora have
    boilerplate — a band key shared by c near-identical docs emits
    c*(c-1)/2 pairs, and at 100 TB a 10%-frequency boilerplate cluster
    makes that output volume unsurvivable by ANY join strategy (AQE skew
    split parallelizes the c^2 compute but cannot shrink the c^2
    output). Buckets larger than the cap therefore emit STAR edges
    (bucket-min id, other id) instead of all pairs: O(c) rows that
    preserve the CONNECTED COMPONENTS of the candidate graph exactly
    (every doc in the bucket stays linked through the hub), which is
    what the downstream dedup_clusters/canonical-doc stages consume.
    The trade, documented: within-mega-bucket pairwise verification
    loses non-hub pairs — acceptable because a full band-key collision
    at this bucket size already implies near-identity. Default ``None``
    keeps the exact all-pairs contract (small buckets are unaffected
    either way).

    **Cache ownership**: the returned frame carries the persisted
    band-row cache as its ``band_cache`` attribute — the cache is
    O(corpus x bands) and somebody must release it. The contract:
    whoever MATERIALIZES the pairs owns the release.
    :func:`connected_components` (the main consumer) materializes the
    pair list into its own cache and releases the band rows itself; any
    other caller that materializes should call
    :func:`release_band_cache` afterwards. Callers that return the
    frame lazily (the bench/driver queries) pass ownership downstream
    with the attribute.
    """
    banded = minhash_band_rows(docs, id_col=id_col, text_col=text_col)
    # BOTH sides of the band self-join read the band rows: persist them
    # so the corpus is shingled + signed ONCE per action, not once per
    # join side (same reasoning as the capped branch below, measured
    # there at ~1.6x; every consumer of this frame — pair listing,
    # clustering, canonical-doc selection — shares the saving).
    banded = banded.persist()
    left = banded.alias("a")
    right = banded.alias("b")

    if max_bucket_size is None:
        pairs = left.join(
            right,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        ).select(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col(f"b.{id_col}").alias("doc_b"),
        )
        pairs = pairs.distinct()
        pairs.band_cache = banded
        return pairs

    # The capped plan reads the (already persisted) band rows FOUR
    # times: sizes agg + both sides of the small-bucket self-join + the
    # star branch all hit the one cached copy.
    # bucket sizes + hub: one extra hash-agg on the same (band) keys the
    # join shuffles on — O(#buckets) rows, co-partitioned with the join
    sizes = banded.groupBy("band_idx", "band_key").agg(
        F.count("*").alias("__bsz"), F.min(id_col).alias("__hub")
    )
    tagged = banded.join(sizes, ["band_idx", "band_key"])
    small = tagged.filter(F.col("__bsz") <= max_bucket_size)
    big = tagged.filter(F.col("__bsz") > max_bucket_size)

    sl, sr = small.alias("a"), small.alias("b")
    small_pairs = sl.join(
        sr,
        (F.col("a.band_idx") == F.col("b.band_idx"))
        & (F.col("a.band_key") == F.col("b.band_key"))
        & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
    ).select(
        F.col(f"a.{id_col}").alias("doc_a"),
        F.col(f"b.{id_col}").alias("doc_b"),
    )
    star_pairs = big.filter(F.col(id_col) != F.col("__hub")).select(
        F.least(F.col("__hub"), F.col(id_col)).alias("doc_a"),
        F.greatest(F.col("__hub"), F.col(id_col)).alias("doc_b"),
    )
    pairs = small_pairs.unionByName(star_pairs).distinct()
    pairs.band_cache = banded
    return pairs


def release_band_cache(pairs: DataFrame) -> None:
    """Release the band-row cache riding on a :func:`minhash_lsh_pairs`
    result (no-op for frames without one). Call once the pairs — or
    everything derived from them — are materialized; the ownership rule
    is documented on :func:`minhash_lsh_pairs`."""
    cache = getattr(pairs, "band_cache", None)
    if cache is not None:
        cache.unpersist()
        pairs.band_cache = None


@contextmanager
def band_cache_scope(pairs: DataFrame):
    """Type-visible ownership for :func:`minhash_lsh_pairs` consumers
    (ADVICE r7): ``with band_cache_scope(pairs) as p: p.count()``
    releases the O(corpus x bands) band cache on exit, success or
    failure. Capture the scope on the frame minhash_lsh_pairs RETURNED —
    ``band_cache`` rides as a Python attribute, so any wrapped/
    transformed frame derived from it no longer carries the handle.
    Registered lazy queries intentionally pass ownership downstream
    instead (the bench/driver harness clears caches per query —
    plans/trainingdata.py:230)."""
    try:
        yield pairs
    finally:
        release_band_cache(pairs)


def _common_shingle_counts(
    inv: DataFrame, id_col: str, df_cap: int | None
) -> DataFrame:
    """``(doc_a, doc_b, n_common)`` for every pair sharing >= 1 shingle.

    ``df_cap=None``: single-phase inverted-index self-join — exact, but
    a shingle appearing in c docs contributes c^2 join rows ON ONE KEY,
    so one 10%-frequency boilerplate shingle at corpus scale is a
    straggler no skew-split can save (the c^2 is in the OUTPUT).

    ``df_cap=k``: candidate+verify. Shingles with document frequency
    > k are dropped from CANDIDATE GENERATION only (they carry ~no
    discriminative signal — the stopword argument); surviving candidate
    pairs get their ``n_common`` recomputed EXACTLY over the full
    uncapped shingle sets, so every reported count/metric value is
    identical to the exact path. The only semantic difference,
    documented: a pair whose shared shingles are ALL hotter than the
    cap produces no candidate and is missed — i.e. pure-boilerplate
    pairs, which dedup wants gone anyway. Join volume becomes
    O(sum over capped shingles of c^2) for candidates plus
    O(candidates x shingles-per-doc) for the verify — both bounded."""
    a, b = inv.alias("a"), inv.alias("b")
    if df_cap is None:
        return (
            a.join(
                b,
                (F.col("a.s") == F.col("b.s"))
                & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
            )
            .groupBy(
                F.col(f"a.{id_col}").alias("doc_a"),
                F.col(f"b.{id_col}").alias("doc_b"),
            )
            .agg(F.count("*").alias("n_common"))
        )
    rare = inv.groupBy("s").agg(F.count("*").alias("__df")).filter(
        F.col("__df") <= df_cap
    )
    capped = inv.join(rare.select("s"), "s")
    ca, cb = capped.alias("a"), capped.alias("b")
    cand = (
        ca.join(
            cb,
            (F.col("a.s") == F.col("b.s"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col(f"b.{id_col}").alias("doc_b"),
        )
        .distinct()
    )
    # exact verify over the FULL shingle sets: explode each candidate by
    # doc_a's shingles, match doc_b's — linear in candidates x doc size
    return (
        cand.join(inv.select(F.col(id_col).alias("doc_a"), "s"), "doc_a")
        .join(inv.select(F.col(id_col).alias("doc_b"), "s"), ["doc_b", "s"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_common"))
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    threshold: float = 0.5,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    df_cap: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard over pairs sharing >= 1 shingle (inverted index
    join), filtered to ``round(jaccard, 6) >= threshold``. ``df_cap``
    switches candidate generation to the hot-shingle-capped
    candidate+verify plan (see :func:`_common_shingle_counts`) — metric
    values stay exact; only pairs sharing exclusively hotter-than-cap
    shingles are missed."""
    inv = shingle_rows(docs, n=n, id_col=id_col, text_col=text_col).distinct()
    sizes = inv.groupBy(id_col).agg(F.count("*").alias("n_sh"))
    common = _common_shingle_counts(inv, id_col, df_cap)
    sa = sizes.select(F.col(id_col).alias("doc_a"), F.col("n_sh").alias("na"))
    sb = sizes.select(F.col(id_col).alias("doc_b"), F.col("n_sh").alias("nb"))
    jac = F.round(
        F.col("n_common") / (F.col("na") + F.col("nb") - F.col("n_common")), 6
    )
    return (
        common.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select("doc_a", "doc_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def containment_pairs(
    docs: DataFrame,
    threshold: float = 0.6,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    df_cap: int | None = None,
) -> DataFrame:
    """Asymmetric shingle CONTAINMENT over candidate pairs:
    ``containment(A in B) = |A ∩ B| / |A|`` — the inclusion metric
    (Broder's resemblance-vs-containment distinction, public). Jaccard
    misses a small document quoted wholesale inside a large one (the
    union denominator dilutes it); containment is the dedup signal for
    quote/boilerplate inclusion. Same inverted-index join as
    :func:`ngram_jaccard_pairs` — candidates share >= 1 shingle, one
    shuffle on the shingle key — emitting both directions' containment
    and keeping pairs where either side is mostly inside the other
    (compared on the rounded value, engine-deterministic). ``df_cap``
    as in :func:`ngram_jaccard_pairs`: hot-shingle-capped candidate
    generation with an exact verify."""
    inv = shingle_rows(docs, n=n, id_col=id_col, text_col=text_col).distinct()
    sizes = inv.groupBy(id_col).agg(F.count("*").alias("n_sh"))
    common = _common_shingle_counts(inv, id_col, df_cap)
    sa = sizes.select(F.col(id_col).alias("doc_a"), F.col("n_sh").alias("na"))
    sb = sizes.select(F.col(id_col).alias("doc_b"), F.col("n_sh").alias("nb"))
    c_a = F.round(F.col("n_common") / F.col("na"), 6)
    c_b = F.round(F.col("n_common") / F.col("nb"), 6)
    return (
        common.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            c_a.alias("containment_a"),
            c_b.alias("containment_b"),
        )
        .filter(
            (F.col("containment_a") >= threshold)
            | (F.col("containment_b") >= threshold)
        )
    )


# --- SimHash -----------------------------------------------------------------
# 64-bit simhash assembled nibble-by-nibble from md5 hex digits, written in
# portable SQL (only substr/md5/%/>=/CASE) so one generator yields both the
# Spark expressions and the DuckDB oracle SQL. operators are generated once
# at import; per-token bit votes are summed per doc (one shuffle).


def simhash_bit_vote_sql(p: int, b: int, hash_expr: str = "md5(token)") -> str:
    """SQL for one bit's +-1 vote: hex digit p (1-based) of the token's
    md5, bit b (0..3), via arithmetic bit extraction (portable
    Spark/DuckDB).

    ``hash_expr`` should reference a PRE-COMPUTED md5 column when the
    vote is evaluated 64x per row: aggregate expressions get no common
    subexpression elimination, so an inline ``md5(token)`` is hashed 64
    times per token (measured ~3x on the whole simhash plan)."""
    # instr (not strpos): exists with identical semantics in Spark and DuckDB
    digit = f"(instr('{_HEX}', substr({hash_expr}, {p}, 1)) - 1)"
    return f"(CASE WHEN ({digit} % {2 ** (b + 1)}) >= {2 ** b} THEN 1 ELSE -1 END)"


def simhash_nibble_sql(p: int, vote_prefix: str = "v") -> str:
    """SQL assembling hex char p from the 4 summed votes v_{p}_{0..3}."""
    val = " + ".join(
        f"(CASE WHEN {vote_prefix}_{p}_{b} > 0 THEN {2 ** b} ELSE 0 END)"
        for b in range(4)
    )
    return f"substr('{_HEX}', ({val}) + 1, 1)"


def simhash_docs(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """64-bit SimHash per document as a 16-char hex string."""
    toks = docs.select(
        F.col(id_col),
        F.explode(F.split(F.trim(F.col(text_col)), "\\s+")).alias("token"),
    ).select(id_col, F.md5("token").alias("h"))
    votes = toks.groupBy(id_col).agg(
        *[
            F.sum(F.expr(simhash_bit_vote_sql(p, b, "h"))).alias(f"v_{p}_{b}")
            for p in range(1, 17)
            for b in range(4)
        ]
    )
    hex_chars = [F.expr(simhash_nibble_sql(p)) for p in range(1, 17)]
    return votes.select(F.col(id_col), F.concat(*hex_chars).alias("simhash"))


def simhash_oracle_sql(table: str = "documents", id_col: str = "doc_id", text_col: str = "text") -> str:
    """The DuckDB twin of :func:`simhash_docs`, generated from the same
    expression builders so semantics cannot drift."""
    votes = ",\n         ".join(
        f"sum({simhash_bit_vote_sql(p, b, 'h')}) AS v_{p}_{b}"
        for p in range(1, 17)
        for b in range(4)
    )
    nibbles = " || ".join(simhash_nibble_sql(p) for p in range(1, 17))
    return f"""
WITH toks AS (
  SELECT {id_col},
         md5(unnest(string_split_regex(trim({text_col}), '\\s+'))) AS h
  FROM {table}
), votes AS (
  SELECT {id_col},
         {votes}
  FROM toks GROUP BY {id_col}
)
SELECT {id_col}, {nibbles} AS simhash FROM votes
"""


def connected_components(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_iterations: int = 20,
) -> DataFrame:
    """Cluster candidate pairs into components: ``(node, component)`` where
    component = min node id reachable through the pair graph.

    Iterative min-label propagation — each round every node adopts the
    smallest label in its closed neighborhood, converging in O(graph
    diameter) rounds. This is the canonical Spark shape for dedup
    clustering at corpus scale (near-dup components are tiny, diameters
    small).

    Per-round cost is ONE equi-join + ONE min-aggregate: the edge set
    carries self-loops, so "min over neighbors-or-self" needs no second
    join to merge old labels back in — and the self-loop rows are the
    ones whose joined label is the node's own previous label, so the
    change count comes out of the same aggregation (min over the
    dst==src rows) instead of a diff join. Round 0 is cheaper still: the
    initial label IS the node id, so the first propagation is a plain
    ``min(dst)`` aggregate with no join and no separate label-init scan.

    Duplicate edges and duplicate self-loops are left in deliberately —
    min-aggregation is idempotent under multiplicity, and the
    ``distinct`` exchanges they would cost are pure overhead at every
    scale (upstream pair generators already emit distinct pairs).

    Exact for any orderable id type (longs, strings, hashes), any
    magnitude — only comparisons, never arithmetic, touch the ids. The
    returned frame is backed by the final round's cached aggregate.
    """
    # Materialize the pair list ONCE before fanning out: both edge
    # directions derive from it, and the upstream pair pipeline (e.g.
    # MinHash LSH) is far too expensive to re-evaluate per derivation.
    p0 = pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst")).persist()
    sym = p0.union(p0.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    # closed neighborhood: every node is its own neighbor (once per
    # occurrence — multiplicity is harmless under min)
    edges = sym.union(sym.select("src", F.col("src").alias("dst"))).persist()
    # Size the loop's shuffles to the materialized pair volume, not the
    # global conf: near-dup pair graphs are orders of magnitude smaller
    # than the corpus that produced them, and each round pays scheduling
    # per task x O(diameter) rounds. The p0 count doubles as the cache
    # materialization we need anyway; edges = 4*pairs rows. ~2M edges per
    # partition, floor of 4 so no single-core join (measured pitfall),
    # ceiling of the session setting so a billion-edge graph still fans
    # out.
    try:
        return _connected_components_loop(
            pairs, p0, edges, max_iterations
        )
    finally:
        # unpersist in a finally so an exception mid-loop (e.g. a
        # cancelled job) can't leak the edge-sized cache entries — same
        # contract as bounded_sssp (operators/graph.py). The band-row
        # release is normally done inside the loop right after p0
        # materializes, but a cancel DURING p0.count() (the expensive
        # upstream pipeline, the likeliest cancellation point) would
        # skip it — release here too (idempotent), since the
        # O(corpus x bands) band cache is the largest entry of all.
        release_band_cache(pairs)
        edges.unpersist()
        p0.unpersist()


def _connected_components_loop(
    pairs: DataFrame,
    p0: DataFrame,
    edges: DataFrame,
    max_iterations: int,
) -> DataFrame:
    n_pairs = p0.count()
    # p0 is now cached: the band-row cache that accelerated the pair
    # build (minhash_lsh_pairs ownership contract) is dead weight from
    # here on — release it so a long-lived session doesn't pin one
    # O(corpus x bands) cache block per clustering call. No-op when the
    # pairs came from any other generator.
    release_band_cache(pairs)
    spark = pairs.sparkSession
    global_sp = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    loop_sp = max(4, min(global_sp, -(-(4 * n_pairs) // 2_000_000)))

    prev_cached: DataFrame | None = None
    converged = False
    # The loop runs on a conf-isolated CLONE session (see
    # operators/confscope.py): pre-sized shuffles + static planning (AQE
    # replan latency measured 3x slower on tiny loop stages) are loop
    # confs only — a concurrent query planned on the caller's session
    # mid-loop keeps its default shuffle width and AQE. The expensive
    # upstream pair pipeline materialized above on the caller's session,
    # under AQE, where skew handling matters; the shared CacheManager
    # serves it to the clone without recompute.
    try:
        with loop_session(
            spark,
            {
                "spark.sql.shuffle.partitions": loop_sp,
                "spark.sql.adaptive.enabled": "false",
            },
        ) as ls:
            ledges = rebind(edges, ls, "cc_edges")
            # round 0: label(v) = min(closed neighborhood ids), no join
            stepped = (
                ledges.groupBy("src")
                .agg(F.min("dst").alias("component"))
                .persist()
            )
            n_changed = stepped.filter(
                F.col("component") != F.col("src")
            ).count()
            labels = stepped.select(F.col("src").alias("node"), "component")
            prev_cached = stepped
            converged = n_changed == 0
            for _ in range(max_iterations - 1):
                if converged:
                    break
                stepped = (
                    ledges.join(labels, ledges.dst == labels.node)
                    .groupBy("src")
                    .agg(
                        F.min("component").alias("component"),
                        F.min(
                            F.when(
                                F.col("dst") == F.col("src"),
                                F.col("component"),
                            )
                        ).alias("prev_component"),
                    )
                    .persist()
                )
                n_changed = stepped.filter(
                    F.col("component") != F.col("prev_component")
                ).count()
                labels = stepped.select(F.col("src").alias("node"), "component")
                prev_cached.unpersist()
                prev_cached = stepped
                converged = n_changed == 0
            # hand the final (cached) labels back to the caller's session
            labels = rebind(labels, spark, "cc_labels")
    except BaseException:
        # a cancelled/failed round must not pin the current iteration's
        # cache entry (the SUCCESS path deliberately keeps it: the
        # returned labels are backed by it)
        if prev_cached is not None:
            prev_cached.unpersist()
        raise
    if not converged:
        # labels are still split across long paths: silently returning
        # them would mislabel components on graphs with diameter >
        # max_iterations (near-dup components are normally tiny, so this
        # signals pathological chaining, e.g. templated boilerplate).
        warnings.warn(
            f"connected_components hit max_iterations={max_iterations} "
            "without converging; returned labels may split components. "
            "Raise max_iterations (rounds needed ~ graph diameter).",
            RuntimeWarning,
            stacklevel=2,
        )
    return labels


def exact_dedup_groups(
    docs: DataFrame, key_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact dedup: one representative (min id) per identical key, with
    multiplicity and a compact key hash."""
    return docs.groupBy(key_col).agg(
        F.min(id_col).alias("keep_doc_id"),
        F.count("*").alias("n_copies"),
        F.md5(F.col(key_col)).alias("text_hash"),
    ).select("keep_doc_id", "n_copies", "text_hash")


def span_dedup_docs(
    docs: DataFrame,
    span: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Corpus-level exact span dedup (the C4 / RefinedWeb repeated-span
    removal shape): documents are cut into consecutive ``span``-token
    windows, every window that has already appeared ANYWHERE in the
    corpus (first occurrence = lowest (doc_id, span_idx)) is dropped,
    and the survivors are stitched back into a cleaned document.

    Returns ``(id_col, n_spans, n_kept, cleaned_text)`` — one row per
    document, ``cleaned_text`` NULL when every span was a repeat.

    Plan shape: span text is assembled ROW-LOCALLY from the token array
    (transform + slice + array_join over O(spans-per-doc) elements)
    and posexploded — zero shuffles to produce span rows; then one
    window over span_text for the first-occurrence rank and one final
    hash-agg on the doc. Two shuffles total regardless of corpus size;
    span-text buckets are tiny by construction, so no skew. The module
    header's HOF warning is about per-TOKEN lambda paths (shingles);
    here the lambda count is tokens/span and the alternative — a
    codegen'd max(CASE pos % span) pivot over posexploded tokens —
    costs a third full exchange, measured 1.4-2x slower at sf0.1.
    """
    toks = F.split(F.trim(F.col(text_col)), "\\s+")
    n = F.greatest(F.lit(1), F.ceil(F.size(toks) / span).cast("int"))
    spans_arr = F.transform(
        F.sequence(F.lit(0), n - 1),
        lambda i: F.array_join(F.slice(toks, i * span + 1, span), " "),
    )
    spans = docs.select(
        F.col(id_col), F.posexplode(spans_arr).alias("_idx", "span_text")
    ).select(
        F.col(id_col), F.col("_idx").cast("long").alias("span_idx"), "span_text"
    )
    w = Window.partitionBy("span_text").orderBy(id_col, "span_idx")
    ranked = spans.withColumn("rn", F.row_number().over(w))
    kept = F.when(
        F.col("rn") == 1, F.struct(F.col("span_idx"), F.col("span_text"))
    )
    out = ranked.groupBy(id_col).agg(
        F.count("*").alias("n_spans"),
        F.sum((F.col("rn") == 1).cast("long")).alias("n_kept"),
        F.array_sort(F.collect_list(kept)).alias("_kept"),
    )
    return out.select(
        F.col(id_col),
        "n_spans",
        "n_kept",
        F.when(
            F.col("n_kept") > 0,
            F.array_join(
                F.transform(F.col("_kept"), lambda x: x["span_text"]), " "
            ),
        ).alias("cleaned_text"),
    )


def span_dedup_oracle_sql(
    span: int = 10, table: str = "documents", id_col: str = "doc_id"
) -> str:
    """DuckDB twin of :func:`span_dedup_docs` — zipped unnest for the
    (span_idx, span_text) rows, the same first-occurrence window, and a
    NULL-skipping ordered string_agg for the reassembly."""
    return f"""
WITH toks AS (
  SELECT {id_col}, string_split_regex(trim(text), '\\s+') AS t FROM {table}
), spans AS (
  SELECT {id_col},
         unnest(range(0, greatest(1, CAST(ceil(len(t) / {span}.0) AS BIGINT)))) AS span_idx,
         unnest(list_transform(
            range(0, greatest(1, CAST(ceil(len(t) / {span}.0) AS BIGINT))),
            j -> array_to_string(t[j * {span} + 1 : j * {span} + {span}], ' '))) AS span_text
  FROM toks
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY span_text
                               ORDER BY {id_col}, span_idx) AS rn
  FROM spans
)
SELECT {id_col},
       count(*) AS n_spans,
       CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       string_agg(CASE WHEN rn = 1 THEN span_text END, ' ' ORDER BY span_idx) AS cleaned_text
FROM ranked
GROUP BY {id_col}
"""


# --- LSH band planning -------------------------------------------------------


def lsh_band_plan(
    pairs: DataFrame,
    threshold: float = 0.5,
    jaccard_col: str = "jaccard",
) -> DataFrame:
    """Design-time band/row planning for a MinHash-LSH index: for every
    (bands b, rows-per-band r) split of an 8-hash signature, the expected
    candidate yield under the S-curve ``P(candidate | s) = 1-(1-s^r)^b``
    evaluated against THIS corpus's observed pair-similarity mass
    (``pairs`` = the inverted-index candidates with exact Jaccard, e.g.
    ``ngram_jaccard_pairs(threshold=0.0)``). The complement of
    ``dedup_threshold_sweep``: that tunes the verify cutoff, this picks
    the index shape that reaches it — expected true candidates (pairs at
    or above ``threshold`` the index would surface) vs expected false
    candidates (band collisions the verify stage then pays to reject).

    Engine-exact by construction: similarity is floored to the 1/100
    grid from the pair's rounded Jaccard (floor of identical doubles —
    no half-way rounding ambiguity), and the S-curve is evaluated in
    DECIMAL arithmetic (integer-exponent powers as explicit product
    chains, scale <= 16), so the per-config sums are exact decimal
    sums with no FP summation order anywhere. Expected counts are
    reported as ``floor(sum * 10000)`` — exact integers.

    Plan shape: the PAIR-scale work is only ``floor(jaccard*100)`` + one
    map-side-combined count into the <=202-row (similarity-bucket,
    truth) histogram; the decimal squaring chains then run on the
    histogram rows and expected counts are ``count x p`` products summed
    over it. The expensive arithmetic is O(grid), not O(pairs), at any
    corpus size.
    """
    s100 = F.floor(F.col(jaccard_col) * 100).cast("long")
    is_true_row = F.col(jaccard_col) >= threshold
    hist = (
        pairs.select(
            s100.alias("__s100"), is_true_row.alias("__is_true")
        )
        .groupBy("__s100", "__is_true")
        .agg(F.count("*").alias("n"))
    )
    sd = (
        F.col("__s100").cast("decimal(6,0)")
        * F.lit("0.01").cast("decimal(3,2)")
    ).cast("decimal(3,2)")

    def chain_sq(col, scale, times):
        # x^(2^times) as repeated squaring. Each product is cast back
        # down to the tightest type holding a value in [0, 1] (scale
        # doubles per squaring: 2 -> 4 -> 8 -> 16) — the raw product
        # types would blow past DECIMAL(38) by the third squaring, and
        # Spark's overflow rule then TRUNCATES scale (DuckDB's differs),
        # so tight casts are what keep both engines on exact arithmetic.
        out = col
        for _ in range(times):
            scale *= 2
            out = (out * out).cast(f"decimal({scale + 1},{scale})")
        return out

    def one_minus(col, scale):
        return (F.lit("1").cast("decimal(2,0)") - col).cast(
            f"decimal({scale + 1},{scale})"
        )

    # signature of 8 minhashes split as (b bands) x (r rows/band)
    p_b8_r1 = one_minus(chain_sq(one_minus(sd, 2), 2, 3), 16)  # 1-(1-s)^8
    p_b4_r2 = one_minus(chain_sq(one_minus(chain_sq(sd, 2, 1), 4), 4, 2), 16)
    p_b2_r4 = one_minus(chain_sq(one_minus(chain_sq(sd, 2, 2), 8), 8, 1), 16)
    p_b1_r8 = chain_sq(sd, 2, 3)  # s^8

    is_true = F.col("__is_true")
    zero = F.lit("0").cast("decimal(38,16)")

    def split_sums(p, tag):
        # count x p: decimal(20,0) x decimal(17,16) -> exact (37,16)
        np = (F.col("n").cast("decimal(20,0)") * p.cast("decimal(17,16)")).cast(
            "decimal(38,16)"
        )
        return [
            F.sum(F.when(is_true, np).otherwise(zero)).alias(f"t_{tag}"),
            F.sum(F.when(~is_true, np).otherwise(zero)).alias(f"f_{tag}"),
        ]

    agg = hist.agg(
        # coalesce BOTH counts: an empty pair frame must report 0
        # candidates AND 0 true pairs like the oracle's count(*), not
        # SUM's NULL (an internally inconsistent 0/NULL row otherwise)
        F.coalesce(F.sum("n"), F.lit(0)).alias("n_candidates"),
        F.coalesce(
            F.sum(F.when(is_true, F.col("n")).otherwise(0)), F.lit(0)
        ).alias("n_true_pairs"),
        *split_sums(p_b8_r1, "b8"),
        *split_sums(p_b4_r2, "b4"),
        *split_sums(p_b2_r4, "b2"),
        *split_sums(p_b1_r8, "b1"),
    )

    def x10k(name):
        return f"cast(floor(coalesce({name}, 0) * 10000) as bigint)"

    return agg.selectExpr(
        "n_candidates",
        "n_true_pairs",
        f"""stack(4,
          8, 1, {x10k('t_b8')}, {x10k('f_b8')},
          4, 2, {x10k('t_b4')}, {x10k('f_b4')},
          2, 4, {x10k('t_b2')}, {x10k('f_b2')},
          1, 8, {x10k('t_b1')}, {x10k('f_b1')}
        ) as (bands, rows_per_band, exp_true_x10k, exp_false_x10k)""",
    )
