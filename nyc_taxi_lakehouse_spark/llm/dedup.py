"""Deduplication operators for large-scale training-data pipelines.

Four dedup families (BASELINE.json north star), each Spark-first:

- exact: md5 over normalized text → hash-groupBy. One shuffle on the hash.
- n-gram/token Jaccard: explode distinct tokens → self-join on token within a
  (lang, source) bucket → |intersection| / |union|. The bucket restriction is
  the blocking key that keeps the pair space linear-ish; at 100 TB the
  blocking key would be a MinHash band (below) instead of metadata.
- MinHash + LSH banding: K=16 permutations min-hashed per doc, 4 bands × 4
  rows; candidate pairs = docs sharing any band; est. Jaccard = matching
  minhash fraction. Implemented with *integer* hash arithmetic so the whole
  pipeline is oracle-checkable: tokens are dictionary-encoded by dense_rank
  (deterministic in both engines), then h_k(t) = (a_k·t + b_k) mod P.
  At 100 TB the dictionary (a global sort of the vocabulary) would be
  replaced by xxhash64(token) — same plan shape, no dictionary stage; see
  minhash_signatures_xxhash() for that production path.
- SimHash: 16-bit signature; bit_j = sign of Σ_tokens (2·parity(h_j(t)) − 1).
  Expressed as 16 conditional SUM aggregates — one shuffle on doc_id, no
  token-space explosion.

All continuous outputs are ratios of exact integers → cross-engine identical.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.detsql import DUCK, SPARK, Dialect
from ..plans.ckpt import (
    evict_round_checkpoint,
    iterate,
    register_run_checkpoint,
    round_checkpoint,
)
from ..registry import df_query, sql_query
from ..session import DEFAULT_SHUFFLE_PARTITIONS
from ..sources.tables import load_tables

# Fixed hash-permutation parameters (a, b) for h(t) = (a*t + b) mod P.
# P prime > any vocabulary id we dictionary-encode at test scale.
_P = 10007
_PERMS = [
    (83, 1031), (157, 421), (271, 907), (383, 211),
    (467, 1723), (563, 89), (659, 1409), (761, 643),
    (877, 313), (983, 1117), (1087, 59), (1193, 811),
    (1297, 487), (1423, 1621), (1531, 137), (1613, 739),
]
_BANDS = 4  # 4 bands × 4 rows


def _exact_dedup_sql(d: Dialect) -> str:
    # lower() INSIDE the strip: stripping [^a-z0-9 ] before lowercasing
    # would DELETE uppercase letters instead of lowercasing them, so
    # case variants would never dedup (latent on the all-lowercase
    # fixture, wrong on any mixed-case corpus).
    norm = f"md5({d.regex_strip('lower(text)', '[^a-z0-9 ]')})"
    return f"""
SELECT
  {norm} AS content_hash,
  COUNT(*) AS copies,
  MIN(doc_id) AS canonical_doc_id,
  MAX(n_chars) AS max_chars
FROM documents
GROUP BY {norm}
"""


sql_query(
    "q_dedup_exact",
    spark_sql=_exact_dedup_sql(SPARK),
    duck_sql=_exact_dedup_sql(DUCK),
    tables=["documents"],
    doc="Exact dedup: normalized-md5 hash-groupBy; canonical row = MIN(doc_id)."
    " One shuffle on the 128-bit hash — uniform keys, no skew at any scale.",
)


def _jaccard_sql(d: Dialect) -> str:
    tok = d.distinct_token_rows("documents", extra_cols="lang, source")
    return f"""
WITH tok AS ({tok}),
doc_size AS (
  SELECT doc_id, COUNT(*) AS n_tokens FROM tok GROUP BY doc_id
),
pair_inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
  FROM tok a
  JOIN tok b
    ON a.token = b.token AND a.lang = b.lang AND a.source = b.source
   AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT
  p.doc_a,
  p.doc_b,
  p.inter,
  sa.n_tokens AS size_a,
  sb.n_tokens AS size_b,
  CAST(p.inter AS DOUBLE) / (sa.n_tokens + sb.n_tokens - p.inter) AS jaccard
FROM pair_inter p
JOIN doc_size sa ON p.doc_a = sa.doc_id
JOIN doc_size sb ON p.doc_b = sb.doc_id
WHERE CAST(p.inter AS DOUBLE) / (sa.n_tokens + sb.n_tokens - p.inter) >= 0.8
"""


sql_query(
    "q_dedup_jaccard",
    spark_sql=_jaccard_sql(SPARK),
    duck_sql=_jaccard_sql(DUCK),
    tables=["documents"],
    doc="Token-set Jaccard near-dup within (lang, source) blocking buckets: "
    "explode distinct tokens → token-equality self-join restricted to the "
    "bucket → integer |∩|/|∪| ratio ≥ 0.8. The blocking key bounds the "
    "candidate space; exact integer arithmetic keeps the oracle bit-exact.",
)


def _incremental_sql(d: Dialect) -> str:
    """Incremental batch-vs-corpus near-dup: for every doc in the NEW
    batch (doc_id % 100 in [70, 79] — the testdata's dup clusters sit at
    id strides of 10/20, so a tens-digit slice actually CROSSES clusters;
    a units-digit slice never does and returns zero rows), its best
    Jaccard >= 0.8 match in the EXISTING corpus (everything else).

    The production op behind continuous ingestion: a new crawl must be
    deduped AGAINST the standing corpus, not just within itself — a
    symmetric self-join (q_dedup_jaccard) answers the wrong question and
    wastes C(corpus,2) work when only batch x corpus pairs matter. The
    asymmetric join is the scale win: at 100 TB the corpus token table is
    the big fixed side, the batch side is small-per-ingest, and the
    (token, lang, source) join touches only tokens the BATCH contains —
    corpus postings for absent tokens are never read (pushdown of the
    batch's token set; with a pre-bucketed corpus table this is a
    shuffle-free probe). Best-match selection is ONE window on the
    (already tiny) scored pair set: rank by Jaccard desc, corpus_id asc —
    deterministic, every tie broken by id.
    """
    tok = d.distinct_token_rows("documents", extra_cols="lang, source")
    return f"""
WITH tok AS ({tok}),
batch AS (SELECT * FROM tok WHERE doc_id % 100 BETWEEN 70 AND 79),
corpus AS (SELECT * FROM tok WHERE doc_id % 100 NOT BETWEEN 70 AND 79),
bsize AS (SELECT doc_id, COUNT(*) AS n FROM batch GROUP BY doc_id),
csize AS (SELECT doc_id, COUNT(*) AS n FROM corpus GROUP BY doc_id),
pair_inter AS (
  SELECT b.doc_id AS new_id, c.doc_id AS corpus_id, COUNT(*) AS inter
  FROM batch b
  JOIN corpus c
    ON b.token = c.token AND b.lang = c.lang AND b.source = c.source
  GROUP BY b.doc_id, c.doc_id
),
scored AS (
  SELECT p.new_id, p.corpus_id, p.inter,
         bs.n + cs.n - p.inter AS uni
  FROM pair_inter p
  JOIN bsize bs ON p.new_id = bs.doc_id
  JOIN csize cs ON p.corpus_id = cs.doc_id
  WHERE CAST(p.inter AS DOUBLE) / (bs.n + cs.n - p.inter) >= 0.8
),
best AS (
  SELECT new_id, corpus_id, inter, uni,
         ROW_NUMBER() OVER (
           PARTITION BY new_id
           ORDER BY CAST(inter AS DOUBLE) / uni DESC, corpus_id
         ) AS rn
  FROM scored
)
SELECT new_id, corpus_id, inter, uni,
       CAST(inter AS DOUBLE) / uni AS jaccard
FROM best WHERE rn = 1
"""


sql_query(
    "q_dedup_incremental",
    spark_sql=_incremental_sql(SPARK),
    duck_sql=_incremental_sql(DUCK),
    tables=["documents"],
    doc="Incremental ingestion dedup: best Jaccard >= 0.8 corpus match "
    "per NEW-batch doc (batch = tens-digit 7 ids). Asymmetric batch x "
    "corpus token join inside (lang, source) blocking — only tokens the "
    "batch contains touch corpus postings, so ingest cost scales with "
    "the batch, not the corpus; deterministic best-match window "
    "(jaccard desc, corpus_id asc).",
)


def _content_chunk_sql(d: Dialect) -> str:
    """Content-defined chunking (the LBFS/restic/CDC primitive) over the
    token stream: whenever the md5 of the 3-token window (i-2, i-1, i)
    starts with hex 0 or 1, token i STARTS a new chunk (the boundary
    falls BEFORE the flagged token — the inclusive running SUM assigns
    token i the incremented chunk id) — an
    expected boundary rate of 1/8, driven by CONTENT, not position, so an
    insertion near a doc's head re-chunks only its neighborhood instead
    of shifting every downstream fixed-size block (the property that
    makes CDC the storage-dedup primitive). Cross-engine determinism:
    md5 over the same 3-token string is byte-identical in both engines;
    all outputs are exact integers, incl. an order-sensitive integer
    fingerprint of the chunk-size sequence (sum of size * (chunk_id+1))
    standing in for a chunk-content hash without ordered string_agg
    (which the engines spell incompatibly).

    Scale shape: one windowed pass per doc partition (LAG + running SUM
    over (doc_id, i)) and one two-level aggregation — no joins, no
    corpus-pair space; 100 TB cost is a single doc-partitioned shuffle.
    """
    pos = d.positional_token_rows("documents")
    return f"""
WITH tok AS ({pos}),
flagged AS (
  SELECT doc_id, i,
         CASE WHEN i >= 3 AND substring(md5(
                LAG(token, 2) OVER (PARTITION BY doc_id ORDER BY i)
                || ' ' ||
                LAG(token, 1) OVER (PARTITION BY doc_id ORDER BY i)
                || ' ' || token), 1, 1) IN ('0', '1')
              THEN 1 ELSE 0 END AS boundary
  FROM tok
),
chunked AS (
  SELECT doc_id, i,
         SUM(boundary) OVER (PARTITION BY doc_id ORDER BY i
                             ROWS UNBOUNDED PRECEDING) AS chunk_id
  FROM flagged
),
chunks AS (
  SELECT doc_id, chunk_id, COUNT(*) AS chunk_tokens
  FROM chunked GROUP BY doc_id, chunk_id
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_chunks,
       CAST(SUM(chunk_tokens) AS BIGINT) AS n_tokens,
       CAST(MAX(chunk_tokens) AS BIGINT) AS max_chunk,
       CAST(MIN(chunk_tokens) AS BIGINT) AS min_chunk,
       CAST(SUM(chunk_tokens * (chunk_id + 1)) AS BIGINT) AS size_seq_fp
FROM chunks
GROUP BY doc_id
"""


sql_query(
    "q_content_chunking",
    spark_sql=_content_chunk_sql(SPARK),
    duck_sql=_content_chunk_sql(DUCK),
    tables=["documents"],
    doc="Content-defined chunking over the token stream: where md5 of the "
    "rolling 3-token window starts with hex 0/1 (rate 1/8), the flagged "
    "token starts a new chunk — "
    "content-driven cut points that stay stable under local edits, the "
    "CDC storage-dedup primitive. Per doc: chunk count, token total, "
    "max/min chunk size, and an order-sensitive integer fingerprint of "
    "the size sequence. One windowed pass + one aggregation, no joins.",
)


def _containment_sql(d: Dialect) -> str:
    """Asymmetric containment near-dup: C(A→B) = |A∩B| / |A|.

    Symmetric Jaccard misses the subsumption regime — doc A fully embedded
    in a much larger doc B (quoted replies, boilerplate-wrapped pages,
    article + comments) has J = |A|/|B| ≈ 0 but C(A→B) = 1. Web-scale
    corpus curation needs both signals; this is the containment half.

    Orientation is deterministic: the *contained* doc is the smaller token
    set (tie → lower doc_id). Threshold inter/|contained| ≥ 0.9 is compared
    in INTEGER form (inter·10 ≥ 9·min_size) — no float boundary in the
    filter. Pairs are classed 'mutual' (J ≥ 0.8 — both directions near-dup)
    vs 'subsumed' (high containment, low Jaccard — exactly what
    q_dedup_jaccard cannot see).

    Scale shape: identical to the Jaccard join — (lang, source) blocking on
    the token self-join, one grouped intersection count, two broadcast-able
    size joins. At 100 TB the blocking key becomes a MinHash band; the
    containment arithmetic is unchanged (|A| rides with the signature).
    """
    tok = d.distinct_token_rows("documents", extra_cols="lang, source")
    return f"""
WITH tok AS ({tok}),
doc_size AS (
  SELECT doc_id, COUNT(*) AS n_tokens FROM tok GROUP BY doc_id
),
pair_inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
  FROM tok a
  JOIN tok b
    ON a.token = b.token AND a.lang = b.lang AND a.source = b.source
   AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
),
oriented AS (
  SELECT
    CASE WHEN sa.n_tokens < sb.n_tokens
           OR (sa.n_tokens = sb.n_tokens AND p.doc_a < p.doc_b)
         THEN p.doc_a ELSE p.doc_b END AS doc_contained,
    CASE WHEN sa.n_tokens < sb.n_tokens
           OR (sa.n_tokens = sb.n_tokens AND p.doc_a < p.doc_b)
         THEN p.doc_b ELSE p.doc_a END AS doc_container,
    p.inter,
    LEAST(sa.n_tokens, sb.n_tokens) AS size_contained,
    GREATEST(sa.n_tokens, sb.n_tokens) AS size_container,
    sa.n_tokens + sb.n_tokens - p.inter AS union_size
  FROM pair_inter p
  JOIN doc_size sa ON p.doc_a = sa.doc_id
  JOIN doc_size sb ON p.doc_b = sb.doc_id
  WHERE p.inter * 10 >= 9 * LEAST(sa.n_tokens, sb.n_tokens)
)
SELECT
  doc_contained,
  doc_container,
  inter,
  size_contained,
  size_container,
  CAST(inter AS DOUBLE) / size_contained AS containment,
  CAST(inter AS DOUBLE) / union_size AS jaccard,
  CASE WHEN inter * 10 >= 8 * union_size THEN 'mutual' ELSE 'subsumed' END
    AS relation
FROM oriented
"""


sql_query(
    "q_dedup_containment",
    spark_sql=_containment_sql(SPARK),
    duck_sql=_containment_sql(DUCK),
    tables=["documents"],
    doc=_containment_sql.__doc__,
)


def _minhash_sql(d: Dialect) -> str:
    """The full minhash+banding pipeline as ONE statement (the DuckDB
    oracle form), composed literally from the two shared fragments —
    _minhash_sig_sql inlined as the sig CTE, then _minhash_pairs_sql over
    it. One source of truth for the banding/matching algebra: the oracle
    and the Spark split can no longer drift apart (r9 review finding —
    three verbatim copies of the band/candidate/match fragments existed
    before)."""
    pairs = _minhash_pairs_sql("sig")
    prefix = "\nWITH "
    if not pairs.startswith(prefix):
        raise AssertionError("_minhash_pairs_sql no longer starts with WITH")
    return (
        "\nWITH sig AS (\n"
        + _minhash_sig_sql(d)
        + "\n),\n"
        + pairs[len(prefix):]
    )


def _minhash_sig_sql(d: Dialect) -> str:
    """The signature half of _minhash_sql, standalone (explode → vocab
    dense_rank → 16 MIN aggregates)."""
    tok = d.distinct_token_rows("documents")
    sig_cols = ",\n  ".join(
        f"MIN(({a} * tid + {b}) % {_P}) AS h{i}" for i, (a, b) in enumerate(_PERMS)
    )
    return f"""
WITH tok AS ({tok}),
vocab AS (
  SELECT token, CAST(DENSE_RANK() OVER (ORDER BY token) AS BIGINT) AS tid
  FROM (SELECT DISTINCT token FROM tok) v
),
tt AS (
  SELECT t.doc_id, v.tid FROM tok t JOIN vocab v ON t.token = v.token
)
SELECT doc_id,
  {sig_cols}
FROM tt GROUP BY doc_id
"""


def _minhash_pairs_sql(sig_view: str) -> str:
    """Banding + candidate join + signature compare over a materialized
    signature view."""
    rows_per_band = len(_PERMS) // _BANDS
    band_exprs = []
    for bi in range(_BANDS):
        hs = range(bi * rows_per_band, (bi + 1) * rows_per_band)
        concat = " || '_' || ".join(f"CAST(h{i} AS STRING)" for i in hs)
        band_exprs.append(f"{concat} AS band{bi}")
    bands = ",\n  ".join(band_exprs)
    cand_union = "\nUNION\n".join(
        f"SELECT x.doc_id AS doc_a, y.doc_id AS doc_b FROM bands x "
        f"JOIN bands y ON x.band{bi} = y.band{bi} AND x.doc_id < y.doc_id"
        for bi in range(_BANDS)
    )
    matches = " + ".join(
        f"CASE WHEN sa.h{i} = sb.h{i} THEN 1 ELSE 0 END" for i in range(len(_PERMS))
    )
    return f"""
WITH bands AS (
  SELECT doc_id,
  {bands}
  FROM {sig_view}
),
cand AS (
{cand_union}
)
SELECT
  c.doc_a,
  c.doc_b,
  CAST({matches} AS INT) AS matching_hashes,
  CAST({matches} AS DOUBLE) / {len(_PERMS)} AS est_jaccard
FROM cand c
JOIN {sig_view} sa ON c.doc_a = sa.doc_id
JOIN {sig_view} sb ON c.doc_b = sb.doc_id
WHERE ({matches}) >= {len(_PERMS) // 2}
"""


@df_query(
    "q_dedup_minhash",
    duck_sql=_minhash_sql(DUCK),
    tables=["documents"],
    doc="MinHash(K=16) + LSH banding (4×4): shingle→minhash→band→bucket-join."
    " Candidate pairs share ≥1 band (UNION dedups across bands); est. "
    "Jaccard = matching-minhash fraction, kept at ≥ 0.5. Spark side "
    "materializes the signature table ONCE (localCheckpoint + temp view) — the "
    "single-CTE form recomputes the explode + vocabulary dense_rank 3x "
    "because Catalyst inlines CTEs. Dictionary-encoded token ids make it "
    "oracle-checkable; production swaps the dictionary for xxhash64(token) "
    "(minhash_signatures_xxhash below) — same plan minus the vocab sort.",
)
def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_tables(spark, sf_dir, ["documents"])
    sig = spark.sql(_minhash_sig_sql(SPARK))
    # localCheckpoint, not persist(): a persist with no unpersist leaks
    # cached partitions for the session lifetime (bench/suite sessions run
    # hundreds of queries), and every other materialize-once site in this
    # module already uses the checkpoint convention for that reason.
    sig = register_run_checkpoint(round_checkpoint(sig))
    sig.createOrReplaceTempView("mh_sig")
    return spark.sql(_minhash_pairs_sql("mh_sig"))


# 60-bit fingerprint (r8, was 16-bit): at 16 bits the chance of two RANDOM
# docs landing within Hamming 3 is C(16,<=3)/2^16 ~ 1.1%, so chance pairs
# grow quadratically in the corpus — the r8 scale-decade run measured 86.7M
# output pairs at 50k docs, almost all noise (17x wall per 10x rows). At 60
# bits that probability is ~3e-14: output collapses to genuine near-dups
# and the 4x15-bit pigeonhole buckets (32768 values each) cut the candidate
# space ~2000x. 60 not 64: bit 63 would overflow signed BIGINT and bits
# 60-62 buy nothing; Hamming<=3 at 60+ bits is the published production
# configuration (Manku et al., WWW'07 — Google's web-dedup setting).
_SIM_BITS = 60
_SIM_CHUNK_BITS = 15  # 4 chunks x 15 bits; <=3 differing bits -> >=1 equal chunk


def _simhash_ctes(d: Dialect) -> str:
    """The shared simhash CTE chain ending in `sim(doc_id, simhash)` —
    composed by both the fingerprint query and the Hamming-pair query.

    Bits come from TWO md5-derived 32-bit token hashes (30 bits each, the
    salted second hash decorrelates them), not from the linear
    (a·tid+b) mod p family over a DENSE_RANK vocabulary the 16-bit version
    used: md5 bits are independent (the linear family's correlated bits
    produced systematic near-collisions between unrelated docs), and
    dropping the vocabulary removes this family's only global sort — the
    fingerprint is now one map-side token hash + one doc_id hash-agg.
    """
    tok = d.distinct_token_rows("documents")
    h1 = d.md5_int32("token")
    h2 = d.md5_int32("(token || '#b')")
    bit_sums = ",\n  ".join(
        f"SUM(CASE WHEN ({d.idiv('h' + str(1 + i // 30), str(1 << (i % 30)))})"
        f" % 2 = 1 THEN 1 ELSE -1 END) AS s{i}"
        for i in range(_SIM_BITS)
    )
    fp = " + ".join(
        f"(CASE WHEN s{i} > 0 THEN {1 << i} ELSE 0 END)" for i in range(_SIM_BITS)
    )
    return f"""tok AS ({tok}),
tt AS (
  SELECT doc_id, {h1} AS h1, {h2} AS h2 FROM tok
),
bits AS (
  SELECT doc_id,
  {bit_sums}
  FROM tt GROUP BY doc_id
),
sim AS (
  SELECT doc_id, CAST({fp} AS BIGINT) AS simhash FROM bits
)"""


def _simhash_sql(d: Dialect) -> str:
    return f"""
WITH {_simhash_ctes(d)}
SELECT doc_id, simhash FROM sim
"""


sql_query(
    "q_dedup_simhash",
    spark_sql=_simhash_sql(SPARK),
    duck_sql=_simhash_sql(DUCK),
    tables=["documents"],
    doc="SimHash (60-bit; widened from 16 in r8 after the scale-decade run "
    "measured quadratic chance-collision growth — C(16,<=3)/2^16 ~ 1.1% of "
    "RANDOM pairs land within Hamming 3, vs ~3e-14 at 60 bits): per-bit "
    "signed token-hash parity sums folded into one BIGINT fingerprint — 60 "
    "conditional aggregates in ONE hash-agg pass over exploded tokens (no "
    "60× row blowup). Near-dups = small Hamming distance; exact integer "
    "arithmetic end-to-end.",
)


_HAMMING_MAX = 3  # near-dup threshold (Manku's production setting at 60+ bits)
# Chunk count DERIVED from the bit constants (r9 review: a hardcoded 4 would
# silently leave high bits out of blocking if _SIM_CHUNK_BITS were retuned);
# the pigeonhole guarantee needs more chunks than differing bits.
_SIM_CHUNKS = _SIM_BITS // _SIM_CHUNK_BITS
if _SIM_CHUNKS <= _HAMMING_MAX:
    raise AssertionError(
        "pigeonhole broken: need _SIM_BITS//_SIM_CHUNK_BITS > _HAMMING_MAX"
    )


def _simhash_pairs_body(d: Dialect, sim: str) -> str:
    """Pigeonhole-banded Hamming join over a fingerprint relation `sim`:
    the 60-bit fingerprint splits into 4 15-bit chunks; any pair within
    Hamming distance 3 differs in at most 3 chunks, so it MATCHES on at
    least one — candidate generation is exact (no recall loss) and never
    enumerates the full pair space. 32768-value chunks keep buckets
    ~N/32768 deep, so candidates are ~4·N²/65536 of the pair space
    instead of the 16-bit version's ~4·N²/32."""
    chunk_selects = "\nUNION ALL\n".join(
        f"SELECT doc_id, simhash, {i} AS chunk_idx,"
        f" {d.idiv('simhash', 1 << (_SIM_CHUNK_BITS * i))} % {1 << _SIM_CHUNK_BITS}"
        f" AS chunk_val FROM {sim}"
        for i in range(_SIM_CHUNKS)
    )
    ham = f"bit_count({d.xor('fp_a', 'fp_b')})"
    return f"""chunks AS (
{chunk_selects}
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.simhash AS fp_a, b.simhash AS fp_b
  FROM chunks a
  JOIN chunks b
    ON a.chunk_idx = b.chunk_idx AND a.chunk_val = b.chunk_val
   AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, fp_a, fp_b,
       CAST({ham} AS INT) AS hamming
FROM cand
WHERE {ham} <= {_HAMMING_MAX}
"""


def _simhash_pairs_sql(d: Dialect) -> str:
    return f"""
WITH {_simhash_ctes(d)},
{_simhash_pairs_body(d, 'sim')}"""


@df_query(
    "q_dedup_simhash_pairs",
    duck_sql=_simhash_pairs_sql(DUCK),
    tables=["documents"],
    doc="SimHash near-dup PAIRS (the dedup step q_dedup_simhash's "
    "fingerprints feed): Hamming distance <= 3 via pigeonhole banding — 4 "
    "exact-match 15-bit chunks generate candidates (distance <= 3 implies "
    ">= 1 identical chunk, so candidate generation loses nothing), then "
    "one bit_count(xor) verify per candidate. The pair space never "
    "materializes; only same-chunk buckets join — the same "
    "blocking-then-verify shape as MinHash banding, on bits instead of "
    "hash rows. Widened 16→60 bits in r8: the scale-decade measurement "
    "showed the 16-bit space's chance collisions dominating output "
    "(86.7M pairs at 50k docs, 17× wall per 10× rows); at 60 bits chance "
    "pairs vanish and output is the genuine near-dup set. The Spark side "
    "materializes the fingerprint table ONCE (localCheckpoint + temp "
    "view, the module convention) — the chunk UNION references it 4× per "
    "self-join side and Catalyst CTE inlining would re-run the token "
    "explode + md5 + 60-aggregate pass 8×.",
)
def q_dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_tables(spark, sf_dir, ["documents"])
    sim = register_run_checkpoint(round_checkpoint(spark.sql(_simhash_sql(SPARK))))
    sim.createOrReplaceTempView("simhash_fp")
    return spark.sql("WITH " + _simhash_pairs_body(SPARK, "simhash_fp"))


# ---------------------------------------------------------------------------
# Production-scale MinHash path (no dictionary stage): xxhash64 token hashing.
# Not oracle-expressible (xxhash64 is Spark-specific) → rows-only check.
# ---------------------------------------------------------------------------


def minhash_signatures_xxhash(
    documents: DataFrame, num_hashes: int = 16, shingle_chars: int | None = None
) -> DataFrame:
    """MinHash signatures using xxhash64(token) — the 100 TB path.

    Avoids the global vocabulary sort of the dictionary-encoded variant:
    token ids come from xxhash64 (JVM-side, codegen), permuted by the same
    fixed (a,b) integer family. One explode + one hash-agg on doc_id.

    shingle_chars=N switches the shingle unit from whitespace words to
    character N-grams (Broder's original formulation) — essential on
    low-vocabulary corpora, where word-level shingle sets collapse to a few
    hundred distinct signatures and every LSH bucket becomes a clique.
    """
    if shingle_chars:
        units = (
            f"array_distinct(transform(sequence(1, length(text) - {shingle_chars - 1}),"
            f" i -> substring(text, i, {shingle_chars})))"
        )
        base = documents.filter(F.length("text") >= shingle_chars)
    else:
        units = "array_distinct(split(text, ' +'))"
        base = documents
    toks = base.select(
        "doc_id", F.explode(F.expr(units)).alias("token")
    ).withColumn("tid", F.pmod(F.xxhash64("token"), F.lit(2**31 - 1)))
    aggs = [
        F.min(F.pmod(F.lit(a) * F.col("tid") + F.lit(b), F.lit(2**61 - 1))).alias(f"h{i}")
        for i, (a, b) in enumerate(_PERMS[:num_hashes])
    ]
    return toks.groupBy("doc_id").agg(*aggs)


def lsh_candidate_pairs(sig: DataFrame, num_hashes: int = 16, bands: int = _BANDS) -> DataFrame:
    """Banding over a MinHash signature table → candidate pairs (production).

    Each signature folds into `bands` band keys (xxhash64 of its row group +
    band id); docs stack to (band, key) rows and candidates are the bucketed
    self-join on the band key — the pair space never materializes, only
    same-bucket pairs shuffle. distinct() dedups pairs colliding in several
    bands. With b bands of r rows, P(candidate | Jaccard s) = 1-(1-s^r)^b —
    the S-curve that prunes low-similarity pairs; pinned on a realistic
    (non-degenerate-vocabulary) corpus by
    tests/test_llm_ops.py::test_lsh_banding_prunes_realistic_corpus.
    """
    rows = num_hashes // bands
    stacked = sig.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.xxhash64(
                            F.lit(b), *[f"h{b * rows + r}" for r in range(rows)]
                        ).alias("key"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", "bk.band", "bk.key")
    a, b = stacked.alias("a"), stacked.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


@df_query(
    "q_dedup_minhash_prod",
    duck_sql=None,
    tables=["documents"],
    doc="Production MinHash signature table via xxhash64 (no vocabulary "
    "dictionary — scales to unbounded vocab). Rows-only check: xxhash64 has "
    "no DuckDB equivalent; correctness of the minhash/banding algebra is "
    "pinned by q_dedup_minhash's oracle instead.",
)
def q_dedup_minhash_prod(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["documents"])
    return minhash_signatures_xxhash(t["documents"])


# ---------------------------------------------------------------------------
# Embedding-cosine near-duplicate detection (5th dedup family).
# ---------------------------------------------------------------------------

_QSCALE = 1000000
_COS_THRESHOLD = "0.40"  # SQL literal; cast to DOUBLE in both engines
# The SAME knob, parsed once for the numpy GEMM path: the blocked-pair mask
# must move with the oracle SQL, never a second hardcoded copy (r9 review).
_COS_THRESHOLD_F = float(_COS_THRESHOLD)


def _embedding_dedup_sql(d: Dialect) -> str:
    """All-pairs cosine >= threshold over integer-quantized components.

    Same determinism scheme as q_similarity_topk: components quantized to
    ints (x1e6), dot/norm as exact 64-bit sums, one SQRT+division per pair.
    The id_a < id_b join emits each unordered pair once.
    """
    if d.name == "spark":
        comp = f"""
SELECT vec_id, pe.i, CAST(round(CAST(pe.v AS DOUBLE) * {_QSCALE}) AS BIGINT) AS q
FROM embeddings LATERAL VIEW posexplode(embedding) pe AS i, v
"""
    else:
        comp = f"""
SELECT vec_id, t.i,
       CAST(round(CAST(embedding[t.i + 1] AS DOUBLE) * {_QSCALE}) AS BIGINT) AS q
FROM embeddings, range(64) t(i)
"""
    return f"""
WITH comp AS ({comp}),
dots AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b, SUM(a.q * b.q) AS dot_int
  FROM comp a JOIN comp b ON a.i = b.i AND a.vec_id < b.vec_id
  GROUP BY a.vec_id, b.vec_id
),
norms AS (SELECT vec_id, SUM(q * q) AS norm_int FROM comp GROUP BY vec_id)
SELECT id_a, id_b,
       CAST(dot_int AS DOUBLE)
         / (SQRT(CAST(na.norm_int AS DOUBLE)) * SQRT(CAST(nb.norm_int AS DOUBLE)))
         AS cosine
FROM dots
JOIN norms na ON id_a = na.vec_id
JOIN norms nb ON id_b = nb.vec_id
WHERE CAST(dot_int AS DOUBLE)
        / (SQRT(CAST(na.norm_int AS DOUBLE)) * SQRT(CAST(nb.norm_int AS DOUBLE)))
      >= CAST({_COS_THRESHOLD} AS DOUBLE)
"""


_GEMM_BLOCKS = 8  # corpus block count B; scale knob — see q_dedup_embedding doc


def embedding_pairs_blocked(embeddings: DataFrame, n_blocks: int = _GEMM_BLOCKS) -> DataFrame:
    """All-pairs cosine >= 0.40 as a distributed block-nested-loop GEMM.

    Vectors hash into B blocks (xxhash64 of vec_id — uniform, no skew); every
    unordered vector pair {u, v} belongs to exactly ONE unordered block pair
    (blk(u), blk(v)), so emitting each row to its B block-pairs and running
    one exact integer GEMM per block-pair via applyInPandas enumerates every
    pair exactly once. Nothing is collected to the driver; each task holds at
    most 2·N/B vectors, so executor memory is bounded by choosing
    B ≈ N·dim·8 / task_budget_bytes. Replication cost is N·B rows — the
    distributed price of an exact O(N²) operator (the approximate scale path
    is the LSH/IVF prefilter family in llm/similarity.py).
    """
    import numpy as np
    import pandas as pd

    quant = embeddings.selectExpr(
        "vec_id",
        f"transform(embedding, v -> CAST(round(CAST(v AS DOUBLE) * {_QSCALE}) AS BIGINT)) AS q",
    ).withColumn("blk", F.pmod(F.xxhash64("vec_id"), F.lit(n_blocks)).cast("int"))
    # Each row participates in the B unordered block pairs {blk, other}.
    exploded = (
        quant.withColumn(
            "other", F.explode(F.array(*[F.lit(i) for i in range(n_blocks)]))
        )
        .withColumn("bi", F.least("blk", "other"))
        .withColumn("bj", F.greatest("blk", "other"))
        .drop("other")
    )

    def gemm(pdf: pd.DataFrame) -> pd.DataFrame:
        bi, bj = int(pdf["bi"].iloc[0]), int(pdf["bj"].iloc[0])
        empty = pd.DataFrame({"id_a": [], "id_b": [], "cosine": []}).astype(
            {"id_a": "int64", "id_b": "int64", "cosine": "float64"}
        )
        if bi == bj:
            side_a = side_b = pdf.drop_duplicates("vec_id")
        else:
            side_a = pdf[pdf["blk"] == bi]
            side_b = pdf[pdf["blk"] == bj]
        if len(side_a) == 0 or len(side_b) == 0:
            return empty
        ids_a = side_a["vec_id"].to_numpy()
        ids_b = side_b["vec_id"].to_numpy()
        qa = np.stack(side_a["q"].to_numpy()).astype(np.float64)
        qb = np.stack(side_b["q"].to_numpy()).astype(np.float64)
        dots = qa @ qb.T  # exact: every |q| <= 1e6+, 64-dim sum < 2^53
        na = np.sqrt((qa * qa).sum(axis=1))
        nb = np.sqrt((qb * qb).sum(axis=1))
        cos = dots / (na[:, None] * nb[None, :])
        if bi == bj:
            # Triangular: each unordered pair once, oriented by id.
            mask = (cos >= _COS_THRESHOLD_F) & (ids_a[:, None] < ids_b[None, :])
        else:
            # Cross-block: every (a, b) combination is a distinct unordered
            # pair — orient the output by id below, never drop.
            mask = cos >= _COS_THRESHOLD_F
        ia, ib = np.nonzero(mask)
        if len(ia) == 0:
            return empty
        lo = np.minimum(ids_a[ia], ids_b[ib])
        hi = np.maximum(ids_a[ia], ids_b[ib])
        return pd.DataFrame({"id_a": lo, "id_b": hi, "cosine": cos[ia, ib]})

    return exploded.groupBy("bi", "bj").applyInPandas(
        gemm, "id_a long, id_b long, cosine double"
    )


# ---------------------------------------------------------------------------
# Dedup clustering: connected components over near-dup pair edges.
# ---------------------------------------------------------------------------


# A propagation round whose Σ(label) drop is more than this fraction of the
# previous round's drop is still walking a long chain one hop at a time;
# star contraction finishes that in O(log d) rounds instead. Measured
# per-round drop ratios: <= 0.09 on the sf0.1 Jaccard dup graph (fixpoint
# in propagation), 0.36 on q_dbscan's core-edge graph (switches).
_STAR_SWITCH_RATIO = 0.25


def connected_components(
    edges: DataFrame, vertices: DataFrame, max_iter: int = 30
) -> DataFrame:
    """Connected components, Spark-first: min-label propagation that
    switches to large-star/small-star contraction (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC'14) when the
    graph turns out to be chain-shaped.

    edges: (src, dst) — undirected, each pair in either orientation (or
    both). vertices: (doc_id) — the full vertex set; vertices without an
    edge are singletons labelled by themselves. Output: (doc_id,
    cluster_id) with cluster_id = the component's minimum vertex id.

    The edge set is materialized once (every round reads it; left lazy,
    the edge-producing join would rerun per round), oriented (least,
    greatest) with self-loops dropped. It is not deduplicated: the
    min-aggregate ignores duplicate rows and the star loop canonicalizes
    its output. Only vertices that touch an edge enter the loops.
    Each propagation round is one join + one groupBy-min; labels only
    decrease, so Σ(label) falls strictly until the fixpoint, and an
    unchanged sum IS convergence. The probe reads Σ(label) and Σ(id) as
    decimal(38,0) (a BIGINT sum overflows on hash-scale ids) in the action
    that materializes the round (plans.ckpt.iterate), both coalesced to 0
    so an empty edge set reads as a fixpoint. Round 0's drop is
    Σ(id) − Σ(label).

    Which path runs is decided by the input. Shallow dup clusters (diameter
    2-3) drop most of Σ in round 0 and reach the fixpoint in propagation,
    which is the answer. On a long chain every round moves labels only
    one hop, so the drop barely shrinks: once a round's drop exceeds
    ``_STAR_SWITCH_RATIO`` of the previous one, propagation stops and the
    label-contracted graph (lab(u), lab(v)) is star-contracted, O(log d)
    rounds where propagation needs O(d). Composing the two maps keeps the
    labels exact: propagation labels are vertex ids inside the same
    component (the component minimum labels itself), so the contracted
    graph has the same partition, the star fixpoint's centers are the same
    component minima, and star(lab(u)) — with each map's roots labelling
    themselves — is the component minimum of u. The composed labels are
    materialized once, so the returned plan reads exactly one checkpoint.

    ``max_iter`` bounds the propagation and star rounds together; a graph
    that needs more raises rather than emit partial labels.
    """
    e = round_checkpoint(
        edges.select(
            F.least("src", "dst").alias("l"), F.greatest("src", "dst").alias("h")
        ).filter(F.col("l") != F.col("h"))
    )
    sym = e.selectExpr("l AS u", "h AS v").unionByName(
        e.selectExpr("h AS u", "l AS v")
    )
    sums = []  # Σ(id), then Σ(label) of each propagation round

    def probe(lab):
        row = lab.agg(
            *(F.coalesce(F.sum(F.col(c).cast("decimal(38,0)")), F.lit(0))
              for c in ("p", "u"))
        ).collect()[0]
        return int(row[0]), int(row[1])

    def settled(prev, cur):
        if not sums:
            sums.extend(prev[1][::-1])
        sums.append(cur[1][0])
        a, b, c = sums[-3:]
        return b == c or b - c > (a - b) * _STAR_SWITCH_RATIO

    def propagate(lab, _sums, _i):
        return (
            sym.join(lab.withColumnRenamed("u", "v"), "v")
            .select("u", "p")
            .unionByName(lab)
            .groupBy("u")
            .agg(F.min("p").alias("p"))
        )

    dead = [e]  # checkpoints the returned plan does not read
    try:
        # Round 0: lab(u) = min(Γ(u) ∪ {u}); each later round one more hop.
        lab, _, k = iterate(
            sym.groupBy("u").agg(F.least(F.min("v"), F.col("u")).alias("p")),
            propagate,
            probe,
            rounds=max_iter - 1,
            until=settled,
            must_converge=True,
        )
        if sums[-1] != sums[-2]:  # switched before the fixpoint
            dead.append(lab)
            lo = lab.withColumnRenamed("u", "l").withColumnRenamed("p", "pl")
            hi = lab.withColumnRenamed("u", "h").withColumnRenamed("p", "ph")
            star, _ = _star_contract(
                e.join(lo, "l").join(hi, "h").selectExpr("pl AS l", "ph AS h"),
                max_iter - 1 - k,  # propagation ran rounds 0..k
            )
            dead.append(star)
            lab = round_checkpoint(
                lab.join(star.selectExpr("h AS p", "l AS s"), "p", "left")
                .select("u", F.coalesce("s", "p").alias("p"))
            )
    finally:
        for df in dead:
            evict_round_checkpoint(df)
    register_run_checkpoint(lab)
    return vertices.join(
        lab.selectExpr("u AS doc_id", "p AS label"), "doc_id", "left"
    ).select("doc_id", F.coalesce("label", F.col("doc_id")).alias("cluster_id"))


def _canon_edges(df: DataFrame, a: str, b: str) -> DataFrame:
    """Canonical unordered edge set: (l < h), self-loops dropped, deduped."""
    return (
        df.select(F.least(a, b).alias("l"), F.greatest(a, b).alias("h"))
        .filter(F.col("l") != F.col("h"))
        .distinct()
    )


def _star_contract(edges: DataFrame, max_iter: int) -> tuple[DataFrame, int]:
    """Alternating large-star / small-star contraction of an (l, h) edge
    set (any orientation, duplicates and self-loops allowed) to the
    star-forest fixpoint, in at most ``max_iter`` rounds. Round 0 is the
    first contraction of the input itself, so the input is never
    materialized on its own. Returns (fixpoint edge set as (l=center,
    h=leaf), star rounds run, the one that confirmed the fixpoint
    included); rounds == 0 means the input was empty."""

    def star_round(e: DataFrame, count=None, _i=0) -> DataFrame | None:
        if count == 0:
            return None  # an empty edge set is its own fixpoint
        # Large star: for each u, m = min(Γ(u) ∪ {u}); connect every
        # strictly-larger neighbor v > u to m. Output rows already satisfy
        # b = m <= u < v = a (low end second, no self-loops), and the
        # small-star min-aggregate below is insensitive to duplicate rows,
        # so the mid-round canonicalization/DISTINCT the r6 form paid
        # between the stars is DEFERRED to the round's final edge set —
        # one dedup shuffle per round instead of two (optimization r11,
        # guide §2.3/§2.4; measured 7.4 s -> 5.7 s warm on the q_dbscan
        # core-edge CC at sf0.1, fixpoint edge set identical).
        sym = e.selectExpr("l AS u", "h AS v").unionByName(
            e.selectExpr("h AS u", "l AS v")
        )
        m = (
            sym.groupBy("u")
            .agg(F.min("v").alias("mn"))
            .select("u", F.least("mn", "u").alias("m"))
        )
        ls = (
            sym.filter(F.col("v") > F.col("u"))
            .join(m, "u")
            .select(F.col("v").alias("h2"), F.col("m").alias("l2"))
        )
        # Small star on the (possibly duplicated) large-star output,
        # oriented high→low (h2 > l2 by construction): m2 = min over
        # Γ_small(h2); link every smaller neighbor (and h2 itself) to m2.
        m2 = ls.groupBy("h2").agg(F.min("l2").alias("m2"))
        leaves = (
            ls.join(m2, "h2")
            .filter(F.col("l2") != F.col("m2"))
            .select(F.col("l2").alias("a"), F.col("m2").alias("b"))
        )
        centers = m2.select(F.col("h2").alias("a"), F.col("m2").alias("b"))
        return _canon_edges(leaves.unionByName(centers), "a", "b")

    # Fixpoint = edge set unchanged by a full round. Every round is a
    # DEDUPED canonical set (_canon_edges), so set equality is equal
    # counts (the probe, fused into the round's materialization) plus
    # ONE-way containment — a set-difference shuffle only on rounds where
    # the counts already agree.
    e, count, rounds = iterate(
        star_round(edges),
        star_round,
        DataFrame.count,
        rounds=max_iter - 1,
        until=lambda prev, cur: prev[1] == cur[1]
        and cur[0].subtract(prev[0]).isEmpty(),
        must_converge=True,
    )
    return e, rounds + 1 if count else 0


def _cluster_oracle_sql(d: Dialect) -> str:
    """DuckDB oracle: transitive closure by recursive CTE over the same
    Jaccard >= 0.8 edge set, component label = min reachable doc_id."""
    tok = d.distinct_token_rows("documents", extra_cols="lang, source")
    return f"""
WITH RECURSIVE tok AS ({tok}),
doc_size AS (
  SELECT doc_id, COUNT(*) AS n_tokens FROM tok GROUP BY doc_id
),
pair_inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
  FROM tok a
  JOIN tok b
    ON a.token = b.token AND a.lang = b.lang AND a.source = b.source
   AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
),
pairs AS (
  SELECT p.doc_a, p.doc_b
  FROM pair_inter p
  JOIN doc_size sa ON p.doc_a = sa.doc_id
  JOIN doc_size sb ON p.doc_b = sb.doc_id
  WHERE CAST(p.inter AS DOUBLE) / (sa.n_tokens + sb.n_tokens - p.inter) >= 0.8
),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION ALL
  SELECT doc_b, doc_a FROM pairs
),
reach AS (
  SELECT src AS doc_id, dst AS reached FROM edges
  UNION
  SELECT r.doc_id, e.dst FROM reach r JOIN edges e ON r.reached = e.src
),
labels AS (
  SELECT d.doc_id,
         LEAST(d.doc_id, COALESCE(MIN(r.reached), d.doc_id)) AS cluster_id
  FROM documents d LEFT JOIN reach r ON d.doc_id = r.doc_id
  GROUP BY d.doc_id
)
SELECT doc_id,
       cluster_id,
       COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size,
       doc_id = cluster_id AS is_canonical
FROM labels
"""


@df_query(
    "q_dedup_clusters",
    duck_sql=_cluster_oracle_sql(DUCK),
    tables=["documents"],
    doc="Dedup clustering: connected components over the Jaccard >= 0.8 "
    "near-dup pair graph (same edge set as q_dedup_jaccard). Spark side is "
    "the adaptive connected_components: min-label propagation (one "
    "shuffle per round, each round checkpointed and its Σ(label) probe "
    "fused into the same action) that switches to large-star/small-star "
    "contraction when the Σ drop stops shrinking, i.e. on chain-shaped "
    "graphs; the DuckDB oracle computes the identical fixpoint by "
    "recursive-CTE transitive closure. Output covers the WHOLE corpus: "
    "cluster_id = min doc_id of the component (singletons label "
    "themselves), is_canonical marks the one row per cluster a dedup "
    "pipeline keeps.",
)
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    t = load_tables(spark, sf_dir, ["documents"])
    pairs = spark.sql(_jaccard_sql(SPARK))
    labels = connected_components(
        pairs.selectExpr("doc_a AS src", "doc_b AS dst"),
        t["documents"].select("doc_id"),
    )
    return labels.select(
        "doc_id",
        "cluster_id",
        F.count("*").over(Window.partitionBy("cluster_id")).alias("cluster_size"),
        (F.col("doc_id") == F.col("cluster_id")).alias("is_canonical"),
    )


@df_query(
    "q_dedup_embedding",
    duck_sql=_embedding_dedup_sql(DUCK),
    tables=["embeddings"],
    doc="Embedding-cosine near-dup: unordered pairs with cosine >= 0.40. "
    "Spark side is a DISTRIBUTED block-nested-loop exact integer GEMM "
    "(embedding_pairs_blocked): vectors hash into B blocks, one applyInPandas "
    "task per unordered block pair — no driver collect, task memory bounded "
    "at 2·N/B vectors regardless of corpus size. Components quantized BIGINT "
    "by the same SQL expression as the oracle, float64 matmul with every "
    "64-dim product-sum < 2^53 (bit-exact integer arithmetic), and the final "
    "dot/(sqrt·sqrt) is the identical IEEE expression to the oracle's — so "
    "the result hash-matches the all-pairs SQL. An exact all-pairs op is "
    "inherently O(N²); the sub-quadratic approximate path is LSH/IVF "
    "blocking (llm/similarity.py), traded off in SURVEY §2.",
)
def q_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["embeddings"])
    return embedding_pairs_blocked(t["embeddings"])


# --- Character-shingle (n-gram) Jaccard near-dup -------------------------

_SHINGLE_N = 5  # character shingle width (Broder syntactic clustering)
_SHINGLE_MOD = 8  # modhash sketch: keep shingles with h(g) % 8 == 0
_STOP_SHINGLE_DOC_FRAC = 0.10  # drop shingles present in >10% of docs
# Absolute floor under the relative cap: for a lang with < 1/frac·MIN docs
# the 10% cap would drop EVERY shared gram (df >= 2 > 0.1·n for n < 20) —
# exactly the intersection grams near-dup detection needs. A gram must
# appear in > max(10%·n, 5) docs of its lang before it counts as "stop".
_STOP_SHINGLE_MIN_DF = 5
# Absolute CEILING over the relative cap (r9 planted-skew finding): per-gram
# self-join cost is C(df,2) pairs regardless of block size, so a block-
# relative cap cannot bound it on a heterogeneous hot block (one lang = 50%
# of the corpus diluted every shard's common grams under the 10% line:
# 134M candidate pairs, 11.3x wall). 256 binds nowhere at the committed SFs
# (max kept df at sf0.1 is 199 — r1-r8 outputs bit-identical) and bounds
# any single gram's bucket at C(256,2) ~ 33k pairs at every corpus size.
_STOP_SHINGLE_ABS_MAX = 256


def _chargram_sel_sql(d: Dialect, table: str = "documents") -> str:
    """The modhash-sampled shingle rows (doc_id, lang, gram) — the
    compute-dense explode + per-shingle md5 pipeline, split out so the
    Spark caller can materialize it ONCE (see _chargram_keep_sql)."""
    if d.name == "spark":
        gram_rows = (
            f"SELECT doc_id, lang, explode(array_distinct(transform("
            f"sequence(1, length(text) - {_SHINGLE_N - 1}),"
            f" i -> substring(text, i, {_SHINGLE_N})))) AS gram"
            f" FROM {table} WHERE length(text) >= {_SHINGLE_N}"
        )
    else:
        gram_rows = (
            f"SELECT doc_id, lang, unnest(list_distinct(list_transform("
            f"range(1, length(text) - {_SHINGLE_N - 2}),"
            f" i -> substr(text, i, {_SHINGLE_N})))) AS gram"
            f" FROM {table} WHERE length(text) >= {_SHINGLE_N}"
        )
    return (
        f"SELECT doc_id, lang, gram FROM ({gram_rows}) grams"
        f" WHERE ({d.md5_int32('gram')} % {_SHINGLE_MOD}) = 0"
    )


def _chargram_keep_sql(
    d: Dialect, table: str = "documents", sel_view: str | None = None
) -> str:
    """The `keep(doc_id, lang, gram, anchor)` sampled-shingle table.

    Every row is a modhash-sampled shingle (Broder '97: the deterministic
    1/8 of shingles with hash ≡ 0 mod 8 — an unbiased sketch that cuts
    join input 8× with no per-doc state). `anchor` marks the shingles that
    may GENERATE candidate pairs; similarity is always SCORED over the
    full sample (see _chargram_pairs_sql — the r9 generate/score split).

    A shingle is an anchor iff its doc frequency is within
    min(max(10%·n_lang, {_STOP_SHINGLE_MIN_DF}), {_STOP_SHINGLE_ABS_MAX}):

    - per LANG, not corpus-global (r8 decade finding: on a corpus of 10
      content-disjoint shards nothing reaches 10% of the GLOBAL count,
      nothing is capped, candidates revert to uncapped — 397× output);
    - with an ABSOLUTE ceiling (r9 planted-skew finding: a block-relative
      cap alone still dies on a heterogeneous BLOCK — one lang holding
      50% of the corpus as five disjoint shards diluted every shard's
      common grams under the 10% line and wall blew up 11.3×; per-gram
      join cost is C(df,2) REGARDLESS of block size, so only an absolute
      df bound caps it: C({_STOP_SHINGLE_ABS_MAX},2) ≈ 33k pairs/gram at
      any corpus. On the skew decade the ceiling cuts candidate cost
      134M → 9.4M pairs, below the uniform decade's 16.2M).

    ``table`` lets the Spark caller substitute a re-partitioned view of
    documents (the shingle explode + per-shingle md5 is the compute-dense
    stage; it parallelizes with input splits at cluster scale, but the
    local single-row-group file would otherwise run it on one task).
    """
    if sel_view is not None:
        # Spark caller: reference an externally materialized `sel` view
        # instead of inlining it — Catalyst CTE inlining runs the
        # explode + per-shingle md5 pipeline once per reference (twice
        # here: the df aggregate and the final left join), and that
        # pipeline is the query's compute-dense stage (optimization r11;
        # the checkpoint lives in q_dedup_chargram).
        sel_cte = f"sel AS (SELECT * FROM {sel_view})"
    else:
        sel_cte = f"sel AS ({_chargram_sel_sql(d, table)})"
    return f"""
WITH {sel_cte},
lang_docs AS (SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY lang),
informative AS (
  SELECT g.lang, g.gram
  FROM (SELECT lang, gram, COUNT(DISTINCT doc_id) AS df
        FROM sel GROUP BY lang, gram) g
  JOIN lang_docs ld ON g.lang = ld.lang
  WHERE g.df <= LEAST(GREATEST({_STOP_SHINGLE_DOC_FRAC} * ld.n_docs,
                               {_STOP_SHINGLE_MIN_DF}),
                      {_STOP_SHINGLE_ABS_MAX})
)
SELECT s.doc_id, s.lang, s.gram, i.gram IS NOT NULL AS anchor
FROM sel s LEFT JOIN informative i ON s.gram = i.gram AND s.lang = i.lang
"""


def _chargram_pairs_sql(d: Dialect, keep: str, ctes: str = "") -> str:
    """Jaccard pairs over a `keep(doc_id, lang, gram, anchor)` relation —
    candidate GENERATION on anchor shingles, SCORING on the full sample.

    The r9 planted-skew decade exposed why the split matters: scoring over
    the capped gram set couples the similarity ESTIMATE to the candidate-
    pruning knob, so the moment the cap bites hard (a hot heterogeneous
    block) every doc is reduced to its rare grams, unions shrink, and
    spurious pairs flood past the 0.3 threshold (output inflated ~49× on
    the skew corpus). Here the cap only bounds which pairs are LOOKED AT
    (pairs sharing nothing but block-boilerplate are skipped — intended
    recall bias); |∩| and |∪| come from the unbiased 1/8 modhash sample
    via an exact array intersection per candidate pair, so scores are
    cap-independent. This is the standard candidate/verify factoring of
    similarity self-joins (the q_dedup_ppjoin architecture, applied to
    the gram-bucket family).

    Plan shape: one anchor-bucket self-join (bounded by the df ceiling at
    C(cap,2) pairs per gram) + DISTINCT, then one join of the candidate
    list against the per-doc gram arrays — candidate-scaled, never
    corpus-quadratic. Exact integers end to end; the division is the same
    IEEE expression in both engines."""
    if d.name == "spark":
        grams_agg = "collect_list(gram)"
        inter = "size(array_intersect(ga.grams, gb.grams))"
        # The per-pair array_intersect scoring stage is CPU-dense but
        # byte-light: AQE's bytes-based coalescing shrank the candidate
        # exchange to ~8 partitions at sf0.1 (≈1 MB each) and left 3/4 of
        # the cores idle under an 18.9 s stage (optimization r11, guide
        # §2.2: size partitions for the work, not the bytes, when CPU per
        # byte is extreme). Pin the candidate side to the configured
        # parallelism — an explicit-width REPARTITION is exempt from AQE
        # coalescing, and it keys on doc_a, the scoring join's key, so it
        # replaces rather than adds a shuffle at cluster scale.
        cand_hint = f"/*+ REPARTITION({DEFAULT_SHUFFLE_PARTITIONS}, doc_a) */ "
    else:
        grams_agg = "list(gram)"
        inter = "len(list_intersect(ga.grams, gb.grams))"
        cand_hint = ""
    return f"""
WITH {ctes}doc_grams AS (
  SELECT doc_id, lang, {grams_agg} AS grams, COUNT(*) AS n_grams
  FROM {keep} GROUP BY doc_id, lang
),
cand AS (
  SELECT {cand_hint}DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM {keep} a
  JOIN {keep} b ON a.gram = b.gram AND a.lang = b.lang AND a.doc_id < b.doc_id
  WHERE a.anchor AND b.anchor
),
scored AS (
  SELECT
    c.doc_a,
    c.doc_b,
    CAST({inter} AS BIGINT) AS inter,
    ga.n_grams AS size_a,
    gb.n_grams AS size_b
  FROM cand c
  JOIN doc_grams ga ON c.doc_a = ga.doc_id
  JOIN doc_grams gb ON c.doc_b = gb.doc_id
)
SELECT
  doc_a,
  doc_b,
  inter,
  size_a,
  size_b,
  CAST(inter AS DOUBLE) / (size_a + size_b - inter) AS jaccard
FROM scored
WHERE CAST(inter AS DOUBLE) / (size_a + size_b - inter) >= 0.3
"""


@df_query(
    "q_dedup_chargram",
    duck_sql=_chargram_pairs_sql(
        DUCK, "keep", ctes=f"keep AS ({_chargram_keep_sql(DUCK)}),\n"
    ),
    tables=["documents"],
    doc="Character-5-gram (shingle) Jaccard near-dup — the n-gram-Jaccard "
    "family member operating below the token level (robust to tokenization "
    "and whitespace edits, the classic syntactic-clustering signal). "
    "Candidate/score factoring (r9): candidates come from ANCHOR shingles "
    "(deterministic 1/8 modhash sample, per-lang df cap with an absolute "
    "ceiling — see _chargram_keep_sql for the two measured scale hazards "
    "behind that rule), while |intersection|/|union| are computed over the "
    "FULL unbiased sample via exact array intersection per candidate pair "
    "— so the similarity estimate is independent of the pruning knob "
    "(scoring on capped grams inflated skew-decade output ~49x: docs "
    "reduced to rare grams, unions shrink, spurious pairs flood the 0.3 "
    "threshold). Lang blocking throughout; exact integers end to end. "
    "The Spark side materializes the shingle table ONCE (localCheckpoint "
    "+ temp view — Catalyst CTE inlining would otherwise re-run the "
    "explode + md5 pipeline for each of its 3 references, the "
    "q_dedup_minhash lesson).",
)
def q_dedup_chargram(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["documents"])
    # The shingle explode + per-shingle md5 is the compute-dense stage. At
    # cluster scale input splits parallelize it for free; the local corpus
    # is one parquet row-group, so fan it out explicitly (tiny shuffle of
    # the raw docs) before exploding.
    docs = t["documents"]
    if docs.rdd.getNumPartitions() < DEFAULT_SHUFFLE_PARTITIONS:
        docs = docs.repartition(DEFAULT_SHUFFLE_PARTITIONS)
    docs.createOrReplaceTempView("documents_sharded")
    # Materialize the sampled-shingle rows once — the keep query
    # references `sel` twice (the df aggregate and the final left join)
    # and Catalyst CTE inlining would re-run the compute-dense explode +
    # per-shingle md5 pipeline for each reference (optimization r11; the
    # same lesson as the keep checkpoint below).
    sel = spark.sql(_chargram_sel_sql(SPARK, table="documents_sharded"))
    sel = register_run_checkpoint(round_checkpoint(sel))
    sel.createOrReplaceTempView("chargram_sel")
    # Materialize the shingle table once — the pair query references it
    # three times (doc_grams + both sides of the anchor join) and a
    # scalar-subquery-bearing plan defeats cache matching, so
    # localCheckpoint (truncated lineage) rather than persist.
    keep = spark.sql(
        _chargram_keep_sql(
            SPARK, table="documents_sharded", sel_view="chargram_sel"
        )
    )
    keep = register_run_checkpoint(round_checkpoint(keep))
    keep.createOrReplaceTempView("chargram_keep")
    return spark.sql(_chargram_pairs_sql(SPARK, "chargram_keep"))


# --- Cross-document segment (paragraph-level) dedup ----------------------

_SEG_TOKENS = 8  # tokens per segment ("paragraph" proxy for the corpus)


def _segment_dedup_sql(d: Dialect) -> "str | tuple[str, str]":
    """CCNet-style paragraph dedup adapted to the single-line corpus:
    documents split into consecutive 8-token segments; a segment appearing
    in more than one document is boilerplate and is removed; per doc we
    report the duplication profile and the md5 of the cleansed text.

    Scale shape: segment identity travels as an md5 hash (fixed 32 bytes —
    the shuffle key and join payload stay tiny no matter how long segments
    are); one shuffle to assemble segments, one hash-keyed aggregation for
    document frequency, one join back, one per-doc rollup.
    """
    pos = d.positional_token_rows("documents")
    seg_no = d.idiv("(i - 1)", str(_SEG_TOKENS))
    if d.name == "spark":
        # Rendered in two pieces by q_dedup_segments so the segment table
        # materializes once (Catalyst CTE inlining would re-run the
        # posexplode + md5 assembly for both of its references). The
        # caller substitutes its temp-view name via the parameter — and
        # the per-segment seg_text expression lives in _segments_sql, not
        # here (a dead duplicate previously shadowed it, r9 review).
        kept = (
            "concat_ws(' ', transform(array_sort(collect_list("
            "CASE WHEN NOT is_dup THEN named_struct('s', seg_no, 't', seg_text)"
            " END)), x -> x.t))"
        )
        return _segments_sql(d), _segment_report_sql("dedup_segs", kept)
    seg_text = "string_agg(token, ' ' ORDER BY i)"
    kept = (
        "COALESCE(string_agg(CASE WHEN NOT is_dup THEN seg_text END,"
        " ' ' ORDER BY seg_no), '')"
    )
    return f"""
WITH pos AS ({pos}),
segs AS (
  SELECT doc_id, {seg_no} AS seg_no, md5({seg_text}) AS seg_hash,
         {seg_text} AS seg_text
  FROM pos GROUP BY doc_id, {seg_no}
),
freq AS (
  SELECT seg_hash, COUNT(DISTINCT doc_id) AS n_docs
  FROM segs GROUP BY seg_hash
),
marked AS (
  SELECT s.doc_id, s.seg_no, s.seg_text, f.n_docs > 1 AS is_dup
  FROM segs s JOIN freq f ON s.seg_hash = f.seg_hash
)
SELECT
  doc_id,
  CAST(COUNT(*) AS INT) AS n_segments,
  CAST(SUM(CASE WHEN is_dup THEN 1 ELSE 0 END) AS INT) AS dup_segments,
  CAST(SUM(CASE WHEN is_dup THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)
    AS dup_fraction,
  md5({kept}) AS kept_md5
FROM marked
GROUP BY doc_id
"""


def _segments_sql(d: Dialect) -> str:
    """The segs(doc_id, seg_no, seg_hash, seg_text) assembly alone."""
    pos = d.positional_token_rows("documents")
    seg_no = d.idiv("(i - 1)", str(_SEG_TOKENS))
    seg_text = (
        "concat_ws(' ', transform(array_sort(collect_list("
        "named_struct('i', i, 't', token))), x -> x.t))"
    )
    return f"""
WITH pos AS ({pos})
SELECT doc_id, {seg_no} AS seg_no, md5({seg_text}) AS seg_hash,
       {seg_text} AS seg_text
FROM pos GROUP BY doc_id, {seg_no}
"""


def _segment_report_sql(segs_view: str, kept: str) -> str:
    """Frequency mark + per-doc rollup over a materialized segment view."""
    return f"""
WITH freq AS (
  SELECT seg_hash, COUNT(DISTINCT doc_id) AS n_docs
  FROM {segs_view} GROUP BY seg_hash
),
marked AS (
  SELECT s.doc_id, s.seg_no, s.seg_text, f.n_docs > 1 AS is_dup
  FROM {segs_view} s JOIN freq f ON s.seg_hash = f.seg_hash
)
SELECT
  doc_id,
  CAST(COUNT(*) AS INT) AS n_segments,
  CAST(SUM(CASE WHEN is_dup THEN 1 ELSE 0 END) AS INT) AS dup_segments,
  CAST(SUM(CASE WHEN is_dup THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)
    AS dup_fraction,
  md5({kept}) AS kept_md5
FROM marked
GROUP BY doc_id
"""


@df_query(
    "q_dedup_segments",
    duck_sql=_segment_dedup_sql(DUCK),
    tables=["documents"],
    doc="Cross-document segment dedup (the CCNet paragraph-dedup shape, "
    "segment = 8 consecutive tokens on this single-line corpus): segments "
    "whose exact content appears in >1 document are boilerplate and are "
    "struck; per-doc output = segment count, duplicated-segment count/"
    "fraction, and the md5 of the text rebuilt from surviving segments in "
    "order (the oracle pins the actual cleansed content, not just counts). "
    "Segment identity travels as md5 — constant-size shuffle keys "
    "regardless of segment length. The Spark side materializes the segment "
    "table ONCE (localCheckpoint — CTE inlining would re-run the "
    "posexplode + md5 assembly for both the frequency and the report "
    "reference, doubling the heaviest map stage).",
)
def q_dedup_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_tables(spark, sf_dir, ["documents"])
    segs_sql, report_sql = _segment_dedup_sql(SPARK)
    segs = register_run_checkpoint(round_checkpoint(spark.sql(segs_sql)))
    segs.createOrReplaceTempView("dedup_segs")
    return spark.sql(report_sql)


# --- Estimator-quality analysis: minhash vs exact Jaccard ----------------


def _agreement_select_sql(exact: str, sig: str) -> str:
    """Per-pair comparison of the K=16 minhash estimate against the exact
    token Jaccard, on the exact-pair set (no banding needed — the pair list
    is already known, so the signatures join straight to it)."""
    matches = " + ".join(
        f"CASE WHEN sa.h{i} = sb.h{i} THEN 1 ELSE 0 END" for i in range(len(_PERMS))
    )
    k = len(_PERMS)
    return f"""
SELECT
  e.doc_a,
  e.doc_b,
  e.jaccard,
  CAST({matches} AS INT) AS matching_hashes,
  CAST({matches} AS DOUBLE) / {k} AS est_jaccard,
  CAST(floor(abs(e.jaccard - CAST({matches} AS DOUBLE) / {k}) * {k}) AS INT)
    AS err_sixteenths
FROM {exact} e
JOIN {sig} sa ON e.doc_a = sa.doc_id
JOIN {sig} sb ON e.doc_b = sb.doc_id
"""


@df_query(
    "q_dedup_agreement",
    duck_sql=_agreement_select_sql(
        f"(SELECT * FROM ({_jaccard_sql(DUCK)}))",
        f"(SELECT * FROM ({_minhash_sig_sql(DUCK)}))",
    ),
    tables=["documents"],
    doc="Estimator-quality analysis as a first-class query: for every "
    "exact-Jaccard >= 0.8 near-dup pair, the K=16 minhash estimate and its "
    "absolute error (bucketed in sixteenths — the estimator's own "
    "resolution, keeping the output exact-integer + identical-IEEE "
    "cross-engine). This is the 'measure, don't guess' loop for sketch "
    "parameters: the error distribution tells you whether K=16 suffices "
    "before you spend a 100 TB pass on banding. Signatures join straight "
    "to the known pair list — no banding stage, signature table "
    "materialized once.",
)
def q_dedup_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_tables(spark, sf_dir, ["documents"])
    sig = register_run_checkpoint(round_checkpoint(spark.sql(_minhash_sig_sql(SPARK))))
    sig.createOrReplaceTempView("agree_sig")
    exact = register_run_checkpoint(round_checkpoint(spark.sql(_jaccard_sql(SPARK))))
    exact.createOrReplaceTempView("agree_exact")
    return spark.sql(_agreement_select_sql("agree_exact", "agree_sig"))


# --- Production dedup pipeline, end-to-end -------------------------------

_PROD_BANDS = 2  # 2 bands x 8 rows: P(cand) = 1-(1-s^8)^2, targets J >~ 0.8
_PROD_VERIFY_MIN_MATCHES = 14  # est. Jaccard >= 0.875 to become an edge


@df_query(
    "q_dedup_prod_pipeline",
    duck_sql=None,
    tables=["documents"],
    doc="The PRODUCTION dedup path composed end-to-end: xxhash64 minhash "
    "signatures (no vocabulary sort) -> LSH banding candidates (pair space "
    "never materializes) -> signature-agreement verification (>= 14/16 "
    "matching hashes, est. Jaccard >= 0.875) -> connected components -> "
    "per-doc keep verdict (canonical = min doc_id of its cluster). This is "
    "the exact chain a 100 TB corpus dedup runs; every stage is the "
    "scale-path variant (xxhash, banding, adaptive CC). Rows-only by "
    "necessity (xxhash64 has no DuckDB equivalent) — but each stage's "
    "algebra is oracle-pinned by its dictionary-encoded twin "
    "(q_dedup_minhash, q_dedup_clusters) and the banding S-curve is "
    "property-tested on a realistic corpus.",
)
def q_dedup_prod_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["documents"])
    return prod_dedup_chain(t["documents"])


def prod_dedup_chain(docs: DataFrame) -> DataFrame:
    """The composed production chain over any documents(doc_id, text) frame
    (separated from the registered query so tests can run it on corpora
    with planted duplicates)."""
    from pyspark.sql import Window

    # Char-5-gram shingles, not word tokens: on a low-vocabulary corpus the
    # word-level shingle sets collapse (this synthetic vocab has ~40 words,
    # so thousands of docs share near-identical signatures and every LSH
    # bucket becomes a clique — observed 7.8M candidates at sf0.1). Char
    # shingles keep signatures doc-specific; this is also Broder's original
    # shingling unit.
    if docs.rdd.getNumPartitions() < DEFAULT_SHUFFLE_PARTITIONS:
        # Fan the compute-dense shingle explode across cores (input splits
        # do this at cluster scale; the local corpus is one row group).
        docs = docs.repartition(DEFAULT_SHUFFLE_PARTITIONS)
    sig = round_checkpoint(minhash_signatures_xxhash(docs, shingle_chars=5))
    # Stricter banding than the 4x4 oracle anchor: a dedup pipeline wants
    # high-Jaccard pairs only — the steeper 2x8 S-curve.
    cand = lsh_candidate_pairs(sig, bands=_PROD_BANDS)
    matches = sum(
        F.when(F.col(f"sa.h{i}") == F.col(f"sb.h{i}"), 1).otherwise(0)
        for i in range(len(_PERMS))
    )
    verified = (
        cand.join(sig.alias("sa"), F.col("doc_a") == F.col("sa.doc_id"))
        .join(sig.alias("sb"), F.col("doc_b") == F.col("sb.doc_id"))
        .withColumn("matching", matches)
        .filter(F.col("matching") >= _PROD_VERIFY_MIN_MATCHES)
        .select("doc_a", "doc_b")
    )
    edges = verified.selectExpr("doc_a AS src", "doc_b AS dst")
    # connected_components materializes its internal edge checkpoint (the
    # loop runs eagerly), so on return nothing live references the
    # signature table — release it instead of holding ~16 hash columns ×
    # corpus rows for the session's lifetime (VERDICT r8 #2: this chain is
    # the one that OOMed repeat decade runs at 8 GiB). finally: so the
    # non-convergence raise does not pin sig across catch-and-retry
    # attempts either (r9 review finding).
    try:
        labels = connected_components(edges, docs.select("doc_id"))
    finally:
        evict_round_checkpoint(sig)
    return labels.select(
        "doc_id",
        "cluster_id",
        F.count("*").over(Window.partitionBy("cluster_id")).alias("cluster_size"),
        (F.col("doc_id") == F.col("cluster_id")).alias("keep"),
    )


def _blocking_quality_sql(d: Dialect) -> str:
    """Blocking-scheme audit — the two numbers that justify a dedup
    blocking key before running it at 100 TB (record-linkage methodology):

    - reduction ratio: 1 − |candidate pairs| / |all pairs| — how much of
      the quadratic pair space the (lang, source) blocking key removes;
    - pairs completeness: of the TRUE near-dup pairs (token Jaccard ≥ 0.8
      computed UNBLOCKED), the fraction whose members share a block — what
      the blocking would actually find.

    Evaluated over a deterministic 1-in-10 document sample (md5 bucket) so
    the ground-truth unblocked pair join stays bounded; both metrics are
    sample-consistent estimators and every count is an exact integer.
    """
    tok = d.distinct_token_rows("sample_docs", extra_cols="lang, source")
    return f"""
WITH sample_docs AS (
  SELECT * FROM documents WHERE ({d.md5_int32('CAST(doc_id AS STRING)' if d.name == 'spark' else 'CAST(doc_id AS VARCHAR)')} % 10) = 0
),
tok AS ({tok}),
doc_size AS (
  SELECT doc_id, COUNT(*) AS n_tokens FROM tok GROUP BY doc_id
),
meta AS (SELECT doc_id, lang, source FROM sample_docs),
n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM sample_docs),
blocks AS (
  SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS nb
  FROM sample_docs GROUP BY lang, source
),
cand AS (
  SELECT CAST(SUM(nb * (nb - 1) / 2) AS BIGINT) AS n_candidates FROM blocks
),
pair_inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
  FROM tok a JOIN tok b ON a.token = b.token AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
),
truth AS (
  SELECT p.doc_a, p.doc_b
  FROM pair_inter p
  JOIN doc_size sa ON p.doc_a = sa.doc_id
  JOIN doc_size sb ON p.doc_b = sb.doc_id
  WHERE p.inter * 10 >= 8 * (sa.n_tokens + sb.n_tokens - p.inter)
),
found AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_true,
         CAST(SUM(CASE WHEN ma.lang = mb.lang AND ma.source = mb.source
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_in_block
  FROM truth t
  JOIN meta ma ON t.doc_a = ma.doc_id
  JOIN meta mb ON t.doc_b = mb.doc_id
)
SELECT
  n.n_docs,
  CAST(n.n_docs * (n.n_docs - 1) / 2 AS BIGINT) AS n_all_pairs,
  c.n_candidates,
  1.0 - CAST(c.n_candidates AS DOUBLE) / (n.n_docs * (n.n_docs - 1) / 2)
    AS reduction_ratio,
  f.n_true,
  f.n_in_block,
  CAST(f.n_in_block AS DOUBLE) / f.n_true AS pairs_completeness
FROM n CROSS JOIN cand c CROSS JOIN found f
"""


sql_query(
    "q_blocking_quality",
    spark_sql=_blocking_quality_sql(SPARK),
    duck_sql=_blocking_quality_sql(DUCK),
    tables=["documents"],
    doc=_blocking_quality_sql.__doc__,
)


# ---------------------------------------------------------------------------
# LSH S-curve calibration — measured band-hit rate vs 1-(1-s^r)^b theory.
# ---------------------------------------------------------------------------


def _theory_ppm(bucket: int) -> int:
    """P(candidate | s) = 1 − (1 − s^rows_per_band)^bands at the bucket
    midpoint, as an integer ppm LITERAL (computed here in Python — no
    cross-libm pow() ever reaches the gate)."""
    rows_per_band = len(_PERMS) // _BANDS
    s = (bucket + 0.5) / 10
    return round((1 - (1 - s**rows_per_band) ** _BANDS) * 1_000_000)


def _lshcal_sig_cols() -> str:
    return ",\n  ".join(
        f"MIN(({a} * tid + {b}) % {_P}) AS h{i}" for i, (a, b) in enumerate(_PERMS)
    )


def _lshcal_tail_sql(d: Dialect, tt_ref: str, sig_ref: str) -> str:
    """The audit tail — exact Jaccard on every intersecting sample pair,
    whether the banding would have fired for it, per-decile
    measured-vs-theory rates — over an integer-id token table `tt_ref`
    (doc_id, tid; one row per distinct doc-token, so set sizes and
    intersections match the raw token table) and a signature table
    `sig_ref`. The refs are CTE names for DuckDB (which materializes
    shared CTEs once) and checkpointed temp views for Spark (which would
    otherwise inline-and-recompute the token scan and signature build per
    use). Joining the pair-intersection self-join on BIGINT tid instead of
    the token string cuts its probe+shuffle cost ~2x — the join output is
    sum(df^2) rows over frequent tokens, so per-row key cost dominates
    this query.

    Band membership is evaluated IN THE PAIR DOMAIN: the candidate rate is
    only ever read for intersecting pairs (the earlier form LEFT-JOINed
    band collisions onto the Jaccard pairs, dropping non-intersecting
    collisions), and "pair collides under banding" == "some band's hash
    rows are all equal" — a row-local predicate over the two signatures.
    That replaces the 4-band self-join UNION + dedup + LEFT JOIN with two
    keyed sig joins and zero extra shuffles (3.0 s → ~1.4 s at sf0.1)."""
    rows_per_band = len(_PERMS) // _BANDS
    band_hit = " OR ".join(
        "("
        + " AND ".join(
            f"sa.h{i} = sb.h{i}"
            for i in range(bi * rows_per_band, (bi + 1) * rows_per_band)
        )
        + ")"
        for bi in range(_BANDS)
    )
    theory = "\n    ".join(
        f"WHEN {bkt} THEN {_theory_ppm(bkt)}" for bkt in range(10)
    )
    return f"""
sizes AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM {tt_ref} GROUP BY doc_id
),
inter AS (
  SELECT a.doc_id AS da, b.doc_id AS db, CAST(COUNT(*) AS BIGINT) AS c
  FROM {tt_ref} a JOIN {tt_ref} b
    ON a.tid = b.tid AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
),
j AS (
  SELECT i.da, i.db,
         LEAST({d.idiv('i.c * 10', '(sa.n + sb.n - i.c)')}, 9) AS bucket
  FROM inter i
  JOIN sizes sa ON i.da = sa.doc_id
  JOIN sizes sb ON i.db = sb.doc_id
),
hits AS (
  SELECT j.bucket,
         CAST(COUNT(*) AS BIGINT) AS n_pairs,
         CAST(SUM(CASE WHEN {band_hit} THEN 1 ELSE 0 END) AS BIGINT)
           AS n_band_hits
  FROM j
  JOIN {sig_ref} sa ON j.da = sa.doc_id
  JOIN {sig_ref} sb ON j.db = sb.doc_id
  GROUP BY j.bucket
)
SELECT CAST(bucket AS INT) AS jaccard_decile, n_pairs, n_band_hits,
       CAST({d.idiv('n_band_hits * 1000000', 'n_pairs')} AS BIGINT)
         AS measured_ppm,
       CAST(CASE bucket
    {theory}
       END AS BIGINT) AS theory_ppm
FROM hits
"""


def _lsh_calibration_sql(d: Dialect) -> str:
    """On the 1-in-5 doc_id sample: exact Jaccard for every intersecting
    pair (pairs sharing zero tokens are excluded — their theoretical rate
    is 0 and enumerating them would be a cartesian product), the 4×4
    dictionary-minhash banding over the same sample, and per-Jaccard-decile
    measured candidate rates against the analytic S-curve midpoints."""
    tok = d.distinct_token_rows("documents", extra_cols="")
    return f"""
WITH tok AS (SELECT * FROM ({tok}) s WHERE doc_id % 5 = 0),
vocab AS (
  SELECT token, CAST(DENSE_RANK() OVER (ORDER BY token) AS BIGINT) AS tid
  FROM (SELECT DISTINCT token FROM tok) v
),
tt AS (SELECT t.doc_id, v.tid FROM tok t JOIN vocab v ON t.token = v.token),
sig AS (SELECT doc_id, {_lshcal_sig_cols()} FROM tt GROUP BY doc_id),
{_lshcal_tail_sql(d, 'tt', 'sig')}"""


@df_query(
    "q_lsh_calibration",
    duck_sql=_lsh_calibration_sql(DUCK),
    tables=["documents"],
    doc="LSH banding CALIBRATION: on a 1-in-5 hash sample, exact Jaccard "
    "for every intersecting pair vs whether the 4×4 minhash banding "
    "fired — measured candidate rate per Jaccard decile against the "
    "analytic S-curve 1−(1−s⁴)⁴ at decile midpoints (theory values are "
    "Python-computed integer-ppm LITERALS, so no pow() enters the "
    "cross-engine gate; a behavioral test additionally asserts the "
    "measured curve is monotone and brackets theory at the ends). This "
    "is how banding parameters (r, b) are validated before a 100 TB "
    "dedup run: the pair enumeration stays within the bounded sample, "
    "exactly like q_blocking_quality's audit.",
)
def _lsh_calibration_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same algebra as the DuckDB oracle, but the two shared intermediates
    are materialized ONCE: Spark inlines WITH-CTEs, so the single-statement
    form rescanned+retokenized the sample 4x (sizes, inter x2, tt) and
    rebuilt the 16-hash signature aggregate 8x (once per side of each of
    the 4 band self-joins). localCheckpoint truncates both; the tail SQL is
    byte-shared with the oracle via _lshcal_tail_sql."""
    load_tables(spark, sf_dir, ["documents"])
    tok_sql = SPARK.distinct_token_rows("documents", extra_cols="")
    tt = spark.sql(
        f"""
WITH tok AS (
  SELECT * FROM ({tok_sql}) s WHERE doc_id % 5 = 0
),
vocab AS (
  SELECT token, CAST(DENSE_RANK() OVER (ORDER BY token) AS BIGINT) AS tid
  FROM (SELECT DISTINCT token FROM tok) v
)
SELECT t.doc_id, v.tid FROM tok t JOIN vocab v ON t.token = v.token"""
    )
    tt = register_run_checkpoint(round_checkpoint(tt))
    tt.createOrReplaceTempView("lshcal_tt")
    sig = spark.sql(
        f"SELECT doc_id, {_lshcal_sig_cols()} FROM lshcal_tt GROUP BY doc_id"
    )
    sig = register_run_checkpoint(round_checkpoint(sig))
    sig.createOrReplaceTempView("lshcal_sig")
    return spark.sql(
        "WITH " + _lshcal_tail_sql(SPARK, "lshcal_tt", "lshcal_sig")
    )


# ---------------------------------------------------------------------------
# k-core of the near-dup graph — template-farm detection.
# ---------------------------------------------------------------------------

_KCORE_K = 3
_KCORE_ROUNDS = 8


def kcore_members(edges_sym: DataFrame, k: int, rounds: int) -> DataFrame:
    """Iterative k-core peeling over a symmetric (src, dst) edge set.

    Round: recompute each alive node's degree within the alive set and
    drop nodes below k — the standard synchronous peeling, a fixpoint in
    ≤ `rounds` iterations (peeling is monotone decreasing, so an
    unchanged alive COUNT is an unchanged alive SET and the loop
    early-exits on that one scalar; running the full fixed budget is
    idempotent, which is what lets a fixed-round unrolled oracle
    hash-match regardless of where convergence lands).

    Scale shape: per round, two keyed semi-joins of the edge list against
    the alive set plus one degree aggregate — all hash-partitioned on
    node id; the edge set is localCheckpointed once, alive-state lineage
    truncated per round (the connected_components conventions).
    """
    # Delta peeling: keep a (node, degree-within-alive) table and, per
    # round, subtract only the edges into the NEWLY-removed set instead of
    # re-joining the full edge list against the alive set twice. Identical
    # synchronous semantics (round i removes exactly the nodes whose
    # within-alive degree was < k after round i-1), but the per-round work
    # shrinks with the removal frontier: one edge-list probe against the
    # removed set + two small node-keyed joins, vs two full semi-joins +
    # a full-degree aggregate before. Pre-partitioning the edge list on
    # dst lets every per-round probe reuse that exchange.
    from ..plans.audit import gated_broadcast

    n_part = int(edges_sym.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    e = round_checkpoint(edges_sym.repartition(n_part, "dst"))

    def peel_round(deg, n_removed, _i):
        if n_removed == 0:
            return None  # nothing below k: the fixpoint
        # The frontier is NODE-scaled (in round 1 it is every node with
        # degree < k — at 100 TB most of the corpus, so an unconditional
        # broadcast OOMs; VERDICT r06 #2): it is gated on n_removed, the
        # previous round's fused probe. Above the gate the joins stay
        # adaptive and hash-partition on node id, which the dst
        # pre-partitioning already serves.
        removed = deg.filter(F.col("deg") < k).select(F.col("src").alias("gone"))
        # dec is NOT hinted: its row set is every ORIGINAL-edge neighbor of
        # this round's frontier, which includes nodes peeled in EARLIER
        # rounds (the checkpointed e never shrinks) — so no count the loop
        # already holds bounds it (|deg| does not: a huge round-1 leaf peel
        # followed by a small round-2 frontier still yields a leaf-scaled
        # dec). dec is an in-plan aggregate, so AQE measures its REAL
        # runtime size at the shuffle boundary and converts the update
        # join to broadcast exactly when it fits — the q_tfidf df-table
        # treatment (4768c02), with no extra pass.
        dec = (
            e.join(gated_broadcast(removed, n_removed), e.dst == removed.gone)
            .groupBy("src")
            .agg(F.count("*").alias("dec"))
        )
        return (
            deg.filter(F.col("deg") >= k)
            .join(dec, "src", "left")
            .select(
                "src",
                (F.col("deg") - F.coalesce(F.col("dec"), F.lit(0))).alias("deg"),
            )
        )

    # Probe: the next round's frontier size. deg's row set IS alive after
    # exactly `rounds` removal rounds (each round filters on the PREVIOUS
    # round's degrees before updating), matching the oracle's unrolled
    # budget — no extra filter here.
    deg, _, _ = iterate(
        e.groupBy("src").agg(F.count("*").alias("deg")),
        peel_round,
        lambda d: d.agg(F.count_if(F.col("deg") < k)).collect()[0][0],
        rounds=rounds,
        inputs=(e,),
    )
    register_run_checkpoint(deg)
    return deg.select(F.col("src").alias("node"))


def _kcore_oracle_sql(d: Dialect, k: int = _KCORE_K, rounds: int = _KCORE_ROUNDS) -> str:
    """The identical fixed-round peeling, unrolled as chained CTEs over the
    same Jaccard >= 0.8 edge set (q_pagerank's unrolled-oracle pattern).

    Every a{i} references a{i-1} TWICE (both edge endpoints), so plain CTEs
    inline EXPONENTIALLY (2^rounds copies of the pair join — unrunnable);
    AS MATERIALIZED pins each round to one execution. DuckDB-only syntax,
    which is fine: this text is only ever the oracle (the Spark side is the
    kcore_members DataFrame loop)."""
    tok = d.distinct_token_rows("documents", extra_cols="lang, source")
    ctes = [
        f"""tok AS ({tok}),
doc_size AS (
  SELECT doc_id, COUNT(*) AS n_tokens FROM tok GROUP BY doc_id
),
pair_inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
  FROM tok a
  JOIN tok b
    ON a.token = b.token AND a.lang = b.lang AND a.source = b.source
   AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
),
pairs AS (
  SELECT p.doc_a, p.doc_b
  FROM pair_inter p
  JOIN doc_size sa ON p.doc_a = sa.doc_id
  JOIN doc_size sb ON p.doc_b = sb.doc_id
  WHERE CAST(p.inter AS DOUBLE) / (sa.n_tokens + sb.n_tokens - p.inter) >= 0.8
),
sym AS MATERIALIZED (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION ALL
  SELECT doc_b, doc_a FROM pairs
),
a0 AS MATERIALIZED (SELECT DISTINCT src AS node FROM sym)"""
    ]
    for i in range(1, rounds + 1):
        ctes.append(
            f"""a{i} AS MATERIALIZED (
  SELECT e.src AS node FROM sym e
  JOIN a{i - 1} u ON e.src = u.node
  JOIN a{i - 1} v ON e.dst = v.node
  GROUP BY e.src HAVING COUNT(*) >= {k}
)"""
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT e.src AS doc_id,
       CAST({k} AS INT) AS k,
       CAST(COUNT(*) AS BIGINT) AS core_degree
FROM sym e
JOIN a{rounds} u ON e.src = u.node
JOIN a{rounds} v ON e.dst = v.node
GROUP BY e.src
"""
    )


@df_query(
    "q_kcore",
    duck_sql=_kcore_oracle_sql(DUCK),
    tables=["documents"],
    doc="k-core (k=3) of the Jaccard >= 0.8 near-dup graph — the "
    "template-farm detector: connected components flag ANY linked "
    "duplication, but only densely interlinked groups (every member "
    "near-dup to >= 3 others even after peeling hangers-on) survive the "
    "k-core, which is exactly the boilerplate/mirror-farm signature a "
    "web-corpus curation pass removes wholesale. Synchronous DELTA "
    "peeling: the dst-pre-partitioned edge checkpoint is probed once per "
    "round against only the NEWLY-removed frontier, and the resulting "
    "degree decrements update a per-node degree table — identical "
    "round-i semantics to the full two-semi-join recompute but with "
    "per-round work that shrinks with the frontier. Fixpoint <= 8 "
    "rounds; ONE fused 1-row scan per round returns the convergence "
    "probe AND the frontier count, so the frontier probe (and the "
    "final membership joins) are size-gated broadcasts (measured "
    "counts) that stay adaptive node-keyed hash joins above the gate — "
    "in round 1 the frontier is every node with degree < k, which at "
    "100 TB is corpus-scaled. The decrement table is deliberately "
    "UNhinted: it can exceed every count the loop holds (long-removed "
    "neighbors of the frontier reappear in it), and as an in-plan "
    "aggregate AQE measures its true runtime size and broadcasts it "
    "exactly when it fits. The oracle unrolls the identical fixed "
    "budget as chained CTEs (q_pagerank's pattern) so extra "
    "post-fixpoint rounds are idempotent no-ops on both engines. "
    "Output: surviving docs with their within-core degree. At 100 TB "
    "the edge set comes from the MinHash-band production path and the "
    "peeling loop is unchanged (node-id-keyed joins only).",
)
def q_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_tables(spark, sf_dir, ["documents"])
    # Same Jaccard-pair algebra as _jaccard_sql, with the (token, lang,
    # source) composite join key dictionary-encoded to one BIGINT first
    # (the q_lsh_calibration trick): the pair join's output is
    # sum(df^2) rows over a small frequent vocabulary, so per-row key
    # comparison cost dominates — one int64 beats three strings ~2x. The
    # encoding is a bijection on composite keys, so pair counts (and the
    # oracle hash) are unchanged; the token table is checkpointed so the
    # dictionary build runs once.
    tok_sql = SPARK.distinct_token_rows("documents", extra_cols="lang, source")
    tt = spark.sql(
        f"""
WITH tok AS ({tok_sql}),
vocab AS (
  SELECT token, lang, source,
         CAST(DENSE_RANK() OVER (ORDER BY token, lang, source) AS BIGINT) AS cid
  FROM (SELECT DISTINCT token, lang, source FROM tok) v
)
SELECT t.doc_id, v.cid FROM tok t
JOIN vocab v ON t.token = v.token AND t.lang = v.lang AND t.source = v.source"""
    )
    tt = register_run_checkpoint(round_checkpoint(tt))
    tt.createOrReplaceTempView("kcore_tt")
    pairs = spark.sql(
        """
WITH doc_size AS (
  SELECT doc_id, COUNT(*) AS n_tokens FROM kcore_tt GROUP BY doc_id
),
pair_inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
  FROM kcore_tt a JOIN kcore_tt b
    ON a.cid = b.cid AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT p.doc_a, p.doc_b
FROM pair_inter p
JOIN doc_size sa ON p.doc_a = sa.doc_id
JOIN doc_size sb ON p.doc_b = sb.doc_id
WHERE CAST(p.inter AS DOUBLE) / (sa.n_tokens + sb.n_tokens - p.inter) >= 0.8"""
    )
    # Checkpoint the edge set ONCE and hand the materialized partitions to
    # both the peel and the final core-degree join.
    e = (
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .unionByName(
            pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
        )
    )
    e = register_run_checkpoint(round_checkpoint(e))
    core = kcore_members(e, _KCORE_K, _KCORE_ROUNDS)
    # The core MEMBERSHIP set scales with the corpus (at 100 TB a dense
    # template farm can be a large fraction of all docs) — gate the
    # broadcast on its measured count (shuffle-free scan of the
    # checkpointed frame); above the gate both degree joins stay adaptive
    # node-keyed hash joins (VERDICT r06 #2).
    from ..plans.audit import gated_broadcast

    core_ck = register_run_checkpoint(round_checkpoint(core))
    core_b = gated_broadcast(core_ck, core_ck.count())
    return (
        e.join(core_b.withColumnRenamed("node", "src"), "src")
        .join(core_b.withColumnRenamed("node", "dst"), "dst")
        .groupBy("src")
        .agg(F.count("*").alias("core_degree"))
        .select(
            F.col("src").alias("doc_id"),
            F.lit(_KCORE_K).cast("int").alias("k"),
            F.col("core_degree").cast("bigint").alias("core_degree"),
        )
    )


# ---------------------------------------------------------------------------
# Exact edit-distance verification of near-dup candidates.
# ---------------------------------------------------------------------------


def _editdist_sql(d: Dialect) -> str:
    """Levenshtein verify stage over the Jaccard >= 0.8 candidate pairs —
    the exact, order-aware distance the cheap set-based candidate
    generation (Jaccard/MinHash/SimHash) funnels into. Both engines ship
    the identical unit-cost Wagner-Fischer metric, so the distance is an
    exact integer; edit_sim = 1 − d/max(len) is one IEEE division.

    Scale shape: the O(|a|·|b|) DP runs once per CANDIDATE (already
    pruned by blocking), never per corpus pair; texts join onto the pair
    table by doc id (keyed) and each DP is a single-row scalar function
    call — embarrassingly parallel, state = two rows of the DP table."""
    tok = d.distinct_token_rows("documents", extra_cols="lang, source")
    return f"""
WITH tok AS ({tok}),
doc_size AS (
  SELECT doc_id, COUNT(*) AS n_tokens FROM tok GROUP BY doc_id
),
pair_inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
  FROM tok a
  JOIN tok b
    ON a.token = b.token AND a.lang = b.lang AND a.source = b.source
   AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
),
pairs AS (
  SELECT p.doc_a, p.doc_b
  FROM pair_inter p
  JOIN doc_size sa ON p.doc_a = sa.doc_id
  JOIN doc_size sb ON p.doc_b = sb.doc_id
  WHERE CAST(p.inter AS DOUBLE) / (sa.n_tokens + sb.n_tokens - p.inter) >= 0.8
)
SELECT p.doc_a, p.doc_b,
       CAST(levenshtein(da.text, db.text) AS BIGINT) AS edit_dist,
       CAST(length(da.text) AS BIGINT) AS len_a,
       CAST(length(db.text) AS BIGINT) AS len_b,
       1.0 - CAST(levenshtein(da.text, db.text) AS DOUBLE)
             / GREATEST(length(da.text), length(db.text)) AS edit_sim
FROM pairs p
JOIN documents da ON p.doc_a = da.doc_id
JOIN documents db ON p.doc_b = db.doc_id
"""


sql_query(
    "q_dedup_editdist",
    spark_sql=_editdist_sql(SPARK),
    duck_sql=_editdist_sql(DUCK),
    tables=["documents"],
    doc="Exact Levenshtein verification of the Jaccard >= 0.8 candidate "
    "pairs — the order-aware confirm stage a production dedup pipeline "
    "runs AFTER set-based candidate generation (token sets say 0.8+, "
    "edit similarity exposes reorder-only false friends, complementing "
    "q_rouge_pairs' clipped-bigram view). Unit-cost Wagner-Fischer is "
    "identical in both engines → exact integer distances; the O(len²) "
    "DP runs once per already-blocked candidate, embarrassingly "
    "parallel, texts joined in by doc id.",
)


# ---------------------------------------------------------------------------
# Quality-aware canonical selection — WHICH copy a dedup pipeline keeps.
# ---------------------------------------------------------------------------


def _canonical_oracle_sql(d: Dialect) -> str:
    """Same recursive-CTE transitive closure as _cluster_oracle_sql, then
    the keep decision: canonical = the longest document per component
    (doc_id ascending on ties) — the 'keep the most complete copy'
    policy, instead of q_dedup_clusters' min-id convention."""
    tok = d.distinct_token_rows("documents", extra_cols="lang, source")
    return f"""
WITH RECURSIVE tok AS ({tok}),
doc_size AS (
  SELECT doc_id, COUNT(*) AS n_tokens FROM tok GROUP BY doc_id
),
pair_inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
  FROM tok a
  JOIN tok b
    ON a.token = b.token AND a.lang = b.lang AND a.source = b.source
   AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
),
pairs AS (
  SELECT p.doc_a, p.doc_b
  FROM pair_inter p
  JOIN doc_size sa ON p.doc_a = sa.doc_id
  JOIN doc_size sb ON p.doc_b = sb.doc_id
  WHERE CAST(p.inter AS DOUBLE) / (sa.n_tokens + sb.n_tokens - p.inter) >= 0.8
),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION ALL
  SELECT doc_b, doc_a FROM pairs
),
reach AS (
  SELECT src AS doc_id, dst AS reached FROM edges
  UNION
  SELECT r.doc_id, e.dst FROM reach r JOIN edges e ON r.reached = e.src
),
labels AS (
  SELECT d.doc_id, d.n_chars,
         LEAST(d.doc_id, COALESCE(MIN(r.reached), d.doc_id)) AS cluster_id
  FROM documents d LEFT JOIN reach r ON d.doc_id = r.doc_id
  GROUP BY d.doc_id, d.n_chars
),
ranked AS (
  SELECT doc_id, cluster_id, n_chars,
         CAST(COUNT(*) OVER (PARTITION BY cluster_id) AS BIGINT)
           AS cluster_size,
         ROW_NUMBER() OVER (PARTITION BY cluster_id
                            ORDER BY n_chars DESC, doc_id) AS rk
  FROM labels
)
SELECT doc_id, cluster_id, cluster_size, CAST(n_chars AS BIGINT) AS n_chars,
       CASE WHEN rk = 1 THEN 1 ELSE 0 END AS is_canonical,
       CASE WHEN rk = 1 THEN 'keep' ELSE 'drop' END AS action
FROM ranked
ORDER BY doc_id
"""


@df_query(
    "q_dedup_canonical",
    duck_sql=_canonical_oracle_sql(DUCK),
    tables=["documents"],
    doc="Quality-aware canonical selection over the Jaccard >= 0.8 "
    "near-dup components: per cluster KEEP the longest document (doc_id "
    "ascending on ties), DROP the rest — the keep-the-most-complete-copy "
    "policy a production dedup applies, upgrading q_dedup_clusters' "
    "min-id convention into an explicit keep/drop action table over the "
    "whole corpus. Spark side reuses the adaptive connected_components "
    "(min-label propagation to its fixpoint on these shallow dup "
    "clusters, one checkpointed round per hop) and a cluster-partitioned "
    "rank window; the oracle recomputes the identical fixpoint by "
    "recursive-CTE transitive closure plus the same rank.",
)
def q_dedup_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    t = load_tables(spark, sf_dir, ["documents"])
    pairs = spark.sql(_jaccard_sql(SPARK))
    labels = connected_components(
        pairs.selectExpr("doc_a AS src", "doc_b AS dst"),
        t["documents"].select("doc_id"),
    )
    sized = labels.join(
        t["documents"].select("doc_id", F.col("n_chars").cast("bigint").alias("n_chars")),
        "doc_id",
    )
    w = Window.partitionBy("cluster_id")
    wr = Window.partitionBy("cluster_id").orderBy(
        F.desc("n_chars"), F.asc("doc_id")
    )
    return sized.select(
        "doc_id",
        "cluster_id",
        F.count("*").over(w).cast("bigint").alias("cluster_size"),
        "n_chars",
        F.when(F.row_number().over(wr) == 1, 1).otherwise(0).alias("is_canonical"),
        F.when(F.row_number().over(wr) == 1, F.lit("keep"))
        .otherwise(F.lit("drop"))
        .alias("action"),
    )
