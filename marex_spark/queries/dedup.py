"""Deduplication suite over the `documents` table (training-data pipeline
operators, SURVEY §7.4): exact hash dedup, n-gram Jaccard near-dup,
MinHash+LSH banding, SimHash, Bloom decontamination.

Cross-engine determinism: all hashing is md5-based (identical lowercase
hex in Spark and DuckDB); hex→int via Spark ``conv(…,16,10)`` /
DuckDB ``CAST('0x…' AS BIGINT)`` on 15 hex chars (fits int64).

The near-dup and decontamination queries run the Arrow text kernels
(operators/lsh.py, operators/simhash.py, operators/dedup.py): one
kernel pass per operator plus at most one grouping exchange. MinHash
bands are map-only; LSH and SimHash pairs group the band rows by
(band, key) once and expand each bucket in id order (hub→member above
the star cap), then take the pair ``distinct``; the Bloom fit is one
kernel pass, a shingle ``distinct`` and one ``toArrow``. The DuckDB
oracles below replay the same values with joins.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from marex_spark.functions.decimals import dec_sql
from marex_spark.operators.lsh import (
    _BAND_ROWS,
    _MH_A,
    _MH_B,
    _MH_P,
    _N_HASH,
    bucket_pairs,
    minhash_band_rows,
)
from marex_spark.queries.registry import register, round6, round6_sql
from marex_spark.sources.parquet import load_table

# ---------------------------------------------------------------- helpers

_WORDS_SQL = "string_split(text, ' ')"


def _shingles(df, n: int = 3):
    """Distinct n-word shingles per doc (1-based element_at on both
    sides) — the set semantics Jaccard-style consumers need; it costs a
    corpus-wide (doc_id, shingle) exchange."""
    words = F.split(F.col("text"), " ")
    idx = F.when(
        F.size(words) >= n, F.sequence(F.lit(1), F.size(words) - (n - 1))
    ).otherwise(F.array().cast("array<int>"))
    parts = [F.element_at(F.col("w"), F.col("i") + j) for j in range(n)]
    return (
        df.select("doc_id", words.alias("w"), F.explode(idx).alias("i"))
        .select("doc_id", F.concat_ws(" ", *parts).alias("shingle"))
        .distinct()
    )


def _shingles_sql(n: int = 3) -> str:
    parts = " || ' ' || ".join(f"w[i + {j}]" for j in range(n))
    return f"""SELECT DISTINCT doc_id, {parts} AS shingle
        FROM (SELECT doc_id, {_WORDS_SQL} AS w FROM documents),
             UNNEST(generate_series(1, greatest(len(w) - {n - 1}, 0))) AS t(i)"""


# ------------------------------------------------------------ exact dedup

@register(
    "dedup_exact",
    """SELECT md5(text) AS text_hash, MIN(doc_id) AS keep_id, COUNT(*) AS n_dups
       FROM documents GROUP BY 1""",
)
def dedup_exact(spark, sf_dir):
    """Exact dedup: hash-groupBy on content, keep min doc_id. Map-side
    partial agg makes this a single shuffle at any scale."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy(F.md5("text").alias("text_hash")).agg(
        F.min("doc_id").alias("keep_id"), F.count("*").alias("n_dups")
    )


# ----------------------------------------------------- n-gram Jaccard dup

# Hot-shingle document-frequency cap: a shingle shared by d documents
# produces O(d²) candidate pairs in the self-join, so ONE stop-word
# trigram at corpus scale creates a quadratic blowup on a single join
# key. Shingles with df > cap carry ~no signal for near-dup detection
# (they are corpus-common, not document-specific) and are dropped on
# BOTH sides — the Jaccard is defined over the informative-shingle sets.
_MAX_SHINGLE_DF = 256


@register(
    "dedup_ngram_jaccard",
    f"""WITH sh0 AS ({_shingles_sql(3)}),
        ok AS (SELECT shingle FROM sh0 GROUP BY 1
               HAVING COUNT(*) <= {_MAX_SHINGLE_DF}),
        sh AS (SELECT sh0.* FROM sh0 JOIN ok USING (shingle)),
        sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
        inter AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS shared
          FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
          GROUP BY 1, 2)
        SELECT doc_a, doc_b,
               {round6_sql('CAST(shared AS DOUBLE) / (sa.n + sb.n - shared)')} AS jaccard
        FROM inter
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
        WHERE CAST(shared AS DOUBLE) / (sa.n + sb.n - shared) >= 0.2""",
)
def dedup_ngram_jaccard(spark, sf_dir):
    """3-gram Jaccard near-dup: shingle-join candidate pairs, exact
    Jaccard on distinct informative-shingle sets, threshold 0.2. The
    shingle equi-join is the scale path — pairs are only generated for
    docs sharing a shingle (no O(n²) cross join) — and the df cap
    (``_MAX_SHINGLE_DF``) removes the remaining quadratic failure mode
    of a single corpus-hot shingle key."""
    docs = load_table(spark, sf_dir, "documents")
    sh0 = _shingles(docs, 3)
    ok = (
        sh0.groupBy("shingle")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") <= _MAX_SHINGLE_DF)
        .select("shingle")
    )
    sh = sh0.join(ok, "shingle")
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count("*").alias("shared"))
    )
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    jac = F.col("shared").cast("double") / (
        F.col("sa.n") + F.col("sb.n") - F.col("shared")
    )
    return (
        inter.join(sa, F.col("sa.doc_id") == F.col("doc_a"))
        .join(sb, F.col("sb.doc_id") == F.col("doc_b"))
        .filter(jac >= 0.2)
        .select("doc_a", "doc_b", round6(jac).alias("jaccard"))
    )


# ----------------------------------------------------------- MinHash + LSH

# The MinHash family and band geometry (_N_HASH, _BAND_ROWS, _MH_P,
# _MH_A, _MH_B) live with the kernel in operators/lsh.py; the DuckDB
# replays below are generated from the same constants.

_LSH_PAIRS_SQL = f"""WITH sh AS ({_shingles_sql(3)}),
        si AS (
          SELECT doc_id,
                 CAST(CONCAT('0x', SUBSTRING(md5(shingle), 1, 15)) AS BIGINT)
                   % {_MH_P} AS s
          FROM sh),
        hashed AS (
          SELECT doc_id, t.h AS h,
                 MIN((s * CASE t.h {' '.join(f'WHEN {h} THEN {a}' for h, a in enumerate(_MH_A))} END
                      + CASE t.h {' '.join(f'WHEN {h} THEN {b}' for h, b in enumerate(_MH_B))} END)
                     % {_MH_P}) AS minhash
          FROM si, UNNEST(generate_series(0, {_N_HASH - 1})) AS t(h)
          GROUP BY 1, 2),
        bands AS (
          SELECT doc_id, CAST(h // {_BAND_ROWS} AS BIGINT) AS band,
                 md5(string_agg(CAST(minhash AS VARCHAR), ',' ORDER BY h)) AS band_key
          FROM hashed GROUP BY 1, 2),
        pairs AS (
          SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM bands a JOIN bands b
            ON a.band = b.band AND a.band_key = b.band_key
           AND a.doc_id < b.doc_id)"""


def _lsh_bands(docs):
    """(doc_id, band, band_key) LSH banding table: one ``mapInArrow``
    running the MinHash kernel (operators/lsh.py
    ``minhash_bands_batch``) — shingle spans, md5 → int64, the
    universal-hash minima and the md5 band keys, all per Arrow batch.
    Map-only: the plan has no exchange. Value-identical to the
    oracle's replay: same minima, same 'm_{2b},m_{2b+1}' md5 input
    strings (the JVM expression form is the equality reference in
    tests/reference/minhash.py)."""
    return minhash_band_rows(docs, "text", ["doc_id"])


def _lsh_pairs(docs, star_cap=None):
    """Distinct (doc_a, doc_b) docs sharing a band bucket: the bands,
    ONE grouping exchange by (band, band_key) that expands each bucket
    in id order (``bucket_pairs``; hub→member only above ``star_cap``),
    then the ``distinct`` across bands."""
    pairs = bucket_pairs(_lsh_bands(docs), ["band", "band_key"], ["doc_id"], star_cap)
    return pairs.select(
        F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
    ).distinct()


@register(
    "dedup_minhash_lsh",
    f"{_LSH_PAIRS_SQL} SELECT doc_a, doc_b FROM pairs",
)
def dedup_minhash_lsh(spark, sf_dir):
    """MinHash+LSH near-dup candidates: docs sharing a band bucket
    (clique expansion). Scan → kernel → one grouping exchange → the
    pair distinct: O(candidates), not O(n²); the skew-guarded star
    form is dedup_lsh_star_capped."""
    return _lsh_pairs(load_table(spark, sf_dir, "documents"))


# LSH skew guard: a band bucket holding d docs (mass-duplicated
# boilerplate, templated spam) contributes O(d^2) candidate pairs in
# clique expansion — the one quadratic hazard in the LSH plan at
# 100 TB. Buckets above the cap switch to STAR expansion: hub = min
# doc_id, pairs = (hub, member). For downstream union-find
# canonicalisation the star connects exactly the same component as the
# clique, at O(d) pairs; only per-pair verification workflows see the
# difference (documented in the docstring).
_STAR_CAP = 3

_LSH_STAR_SQL = f"""{_LSH_PAIRS_SQL.rsplit(',', 1)[0].rsplit('pairs AS', 1)[0]}
        bsize AS (
          SELECT band, band_key, COUNT(*) AS n, MIN(doc_id) AS hub
          FROM bands GROUP BY 1, 2),
        pairs AS (
          SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM bands a
          JOIN bands b ON a.band = b.band AND a.band_key = b.band_key
                       AND a.doc_id < b.doc_id
          JOIN bsize s ON s.band = a.band AND s.band_key = a.band_key
          WHERE s.n <= {_STAR_CAP}
          UNION
          SELECT s.hub AS doc_a, b.doc_id AS doc_b
          FROM bsize s
          JOIN bands b ON b.band = s.band AND b.band_key = s.band_key
          WHERE s.n > {_STAR_CAP} AND b.doc_id != s.hub)"""


@register(
    "dedup_lsh_star_capped",
    f"{_LSH_STAR_SQL} SELECT doc_a, doc_b FROM pairs",
)
def dedup_lsh_star_capped(spark, sf_dir):
    """MinHash-LSH candidates with the hot-bucket SKEW GUARD: band
    buckets with more than _STAR_CAP members emit hub->member star
    pairs (O(d)) instead of all-pairs cliques (O(d^2)). Union-find
    canonicalisation over star pairs yields the identical clusters —
    the hub connects every member — so the scale path composes with
    dedup_cluster_canonical unchanged; pairwise-Jaccard verification
    pipelines should keep the clique form on the capped buckets they
    can afford. The cap is applied inside the same single grouping
    exchange as the clique form (no bucket-size join). The cap is
    deliberately tiny here so the star path is exercised on the test
    corpus."""
    return _lsh_pairs(load_table(spark, sf_dir, "documents"), _STAR_CAP)


# ----------------------------------------------------------------- SimHash
#
# 64-bit fingerprints, 4 bands × 16-bit keys, hamming gate 3 — Manku,
# Jain & Das Sarma 2007's production geometry (the r7 verdict flagged
# the previous 16-bit/4-bit-band form as quadratic at scale: every
# 4-bit band bucket goes corpus-hot). Engine + oracle are BOTH
# generated from operators/simhash.py so they cannot drift.

from marex_spark.operators.simhash import (  # noqa: E402
    simhash_band_pairs,
    simhash_band_pairs_sql,
    simhash_fingerprints,
    simhash_fingerprints_sql,
)

_SH_BITS = 64
_SH_BANDS = 4
_SH_BAND_BITS = 16
_SH_MAX_HAMMING = 3
# Deliberately tiny so the star path is exercised on the test corpus
# (fixture band buckets reach ~28 members); production would use a cap
# in the hundreds.
_SH_STAR_CAP = 3


def _simhash_sql() -> str:
    return simhash_fingerprints_sql(bits=_SH_BITS)


@register("dedup_simhash", _simhash_sql())
def dedup_simhash(spark, sf_dir):
    """64-bit SimHash per doc (Manku 2007 geometry): one md5 per word
    split into two 32-bit integer halves, ±1 votes per bit position,
    sign of the vote sets the bit. One map-only Arrow kernel pass:
    ZERO shuffles. Bit 63 makes the BIGINT negative by design; all
    downstream band math is shift+mask (sign-safe)."""
    docs = load_table(spark, sf_dir, "documents")
    return simhash_fingerprints(docs, bits=_SH_BITS)


@register(
    "dedup_simhash_pairs",
    simhash_band_pairs_sql(
        _simhash_sql(),
        bands=_SH_BANDS,
        band_bits=_SH_BAND_BITS,
        max_hamming=_SH_MAX_HAMMING,
    ),
)
def dedup_simhash_pairs(spark, sf_dir):
    """SimHash near-dup PAIRS at hamming ≤ 3 over 64-bit fingerprints:
    the pigeonhole guarantees every qualifying pair matches exactly on
    at least one of the 4 × 16-bit bands (4 bands > 3 flips), so
    candidates come from one grouping by (band, 65,536-value key),
    each bucket expanded in place — buckets only go hot where the
    corpus really contains mass near-dups — and the verify step is
    one xor+bit_count per candidate. COMPLETE by construction (brute-force-equality tested);
    for corpora with mass-duplicated boilerplate use
    dedup_simhash_star_capped, which bounds hot buckets to O(d)
    hub-anchored pairs."""
    fps = dedup_simhash(spark, sf_dir)
    return simhash_band_pairs(
        fps,
        bands=_SH_BANDS,
        band_bits=_SH_BAND_BITS,
        max_hamming=_SH_MAX_HAMMING,
    )


@register(
    "dedup_simhash_star_capped",
    simhash_band_pairs_sql(
        _simhash_sql(),
        bands=_SH_BANDS,
        band_bits=_SH_BAND_BITS,
        max_hamming=_SH_MAX_HAMMING,
        star_cap=_SH_STAR_CAP,
    ),
)
def dedup_simhash_star_capped(spark, sf_dir):
    """SimHash pairs with the hot-bucket SKEW GUARD (same design as
    dedup_lsh_star_capped): band buckets above _SH_STAR_CAP members
    emit only hub-anchored pairs — O(d) instead of O(d²) — and because
    the hub is the bucket's min doc_id the capped output is a strict
    subset of the clique form, connecting the identical component
    under union-find canonicalisation. Hamming values on surviving
    pairs are exact; only member↔member pairs inside a hot bucket are
    traded away (re-derivable per-cluster downstream). This is the
    scale row for boilerplate-heavy web corpora."""
    fps = dedup_simhash(spark, sf_dir)
    return simhash_band_pairs(
        fps,
        bands=_SH_BANDS,
        band_bits=_SH_BAND_BITS,
        max_hamming=_SH_MAX_HAMMING,
        star_cap=_SH_STAR_CAP,
    )


# ------------------------------------------- embedding-cosine near-dup

_EMB_THRESHOLD = 0.25  # synthetic embeddings are near-orthogonal; real corpora use ~0.9


@register(
    "dedup_embedding_cosine",
    f"""WITH e AS (
          SELECT vec_id, label, t.i - 1 AS idx, CAST(embedding[t.i] AS DOUBLE) AS comp
          FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS t(i)),
        dots AS (
          SELECT a.vec_id AS id_a, b.vec_id AS id_b, {dec_sql('a.comp * b.comp')} AS dot
          FROM e a JOIN e b ON a.idx = b.idx AND a.label = b.label AND a.vec_id < b.vec_id
          GROUP BY 1, 2),
        norms AS (
          SELECT vec_id, SQRT({dec_sql('comp * comp')}) AS nrm FROM e GROUP BY 1)
        SELECT d.id_a, d.id_b, {round6_sql('d.dot / (na.nrm * nb.nrm)')} AS cosine
        FROM dots d
        JOIN norms na ON na.vec_id = d.id_a
        JOIN norms nb ON nb.vec_id = d.id_b
        WHERE d.dot / (na.nrm * nb.nrm) >= {_EMB_THRESHOLD}""",
)
def dedup_embedding_cosine(spark, sf_dir):
    """Embedding-cosine near-duplicate pairs: candidates blocked by the
    coarse cluster key (label — the IVF-bucket shape: at scale the
    block key comes from a coarse quantiser, so pair generation is
    O(n²/buckets) not O(n²)); exact cosine via order-independent
    decimal sums."""
    from marex_spark.functions.decimals import dsum

    emb = load_table(spark, sf_dir, "embeddings")
    e = emb.select(
        "vec_id", "label", F.posexplode("embedding").alias("idx", "comp")
    ).withColumn("comp", F.col("comp").cast("double"))
    a, b = e.alias("a"), e.alias("b")
    dots = (
        a.join(
            b,
            (F.col("a.idx") == F.col("b.idx"))
            & (F.col("a.label") == F.col("b.label"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .groupBy(
            F.col("a.vec_id").alias("id_a"), F.col("b.vec_id").alias("id_b")
        )
        .agg(dsum(F.col("a.comp") * F.col("b.comp"), "dot"))
    )
    norms = e.groupBy("vec_id").agg(
        F.sqrt(dsum(F.col("comp") * F.col("comp"))).alias("nrm")
    )
    na = norms.select(F.col("vec_id").alias("id_a"), F.col("nrm").alias("na"))
    nb = norms.select(F.col("vec_id").alias("id_b"), F.col("nrm").alias("nb"))
    cos = F.col("dot") / (F.col("na") * F.col("nb"))
    return (
        dots.join(F.broadcast(na), "id_a")
        .join(F.broadcast(nb), "id_b")
        .filter(cos >= _EMB_THRESHOLD)
        .select("id_a", "id_b", round6(cos).alias("cosine"))
    )


# ----------------------------------------- cluster canonicalisation

# (single source of truth for the LSH pair CTE: defined above, next to
# dedup_minhash_lsh, and shared with the cluster canonicalisation oracle)


@register(
    "dedup_cluster_canonical",
    f"""WITH RECURSIVE {_LSH_PAIRS_SQL.split('WITH ', 1)[1]},
        edges AS (
          SELECT doc_a AS u, doc_b AS v FROM pairs
          UNION SELECT doc_b, doc_a FROM pairs),
        walk(u, lbl) AS (
          SELECT doc_id, doc_id FROM documents
          UNION
          SELECT e.u, w.lbl FROM edges e JOIN walk w ON e.v = w.u)
        SELECT u AS doc_id, MIN(lbl) AS canonical_id,
               CAST(MIN(lbl) != u AS INT) AS is_duplicate
        FROM walk GROUP BY 1""",
)
def dedup_cluster_canonical(spark, sf_dir):
    """Near-dup CLUSTER canonicalisation — the operator a training-data
    pipeline actually runs after candidate generation: connected
    components over the MinHash-LSH pair graph (transitive closure, so
    A~B~C dedups to one canonical even when A,C never collide), keep
    the minimum doc_id per cluster. Reuses the tracker's union-find
    (components.py, same tier as event linking); oracle is a
    recursive-CTE min-label propagation over the identical pair CTE."""
    from marex_spark.operators.components import connected_components_driver

    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup_minhash_lsh(spark, sf_dir).select(
        F.col("doc_a").alias("id_t"), F.col("doc_b").alias("id_next")
    )
    nodes = docs.select("doc_id")
    comp = connected_components_driver(
        pairs, nodes, id_col="doc_id", compact=False
    )
    return comp.select(
        "doc_id",
        F.col("event_id").alias("canonical_id"),
        (F.col("event_id") != F.col("doc_id")).cast("int").alias("is_duplicate"),
    )


# ------------------------------------------------- benchmark decontamination

@register(
    "decontam_ngram",
    f"""WITH sh AS ({_shingles_sql(5)}),
        src AS (SELECT doc_id, source FROM documents),
        bench AS (
          SELECT DISTINCT s.shingle FROM sh s
          JOIN src ON s.doc_id = src.doc_id WHERE src.source = 'src0'),
        tr AS (
          SELECT s.doc_id, s.shingle FROM sh s
          JOIN src ON s.doc_id = src.doc_id WHERE src.source <> 'src0'),
        tot AS (SELECT doc_id, COUNT(*) AS n FROM tr GROUP BY 1),
        hit AS (
          SELECT t.doc_id, COUNT(*) AS nh FROM tr t
          JOIN bench b ON t.shingle = b.shingle GROUP BY 1)
        SELECT t.doc_id,
               {round6_sql('COALESCE(h.nh, 0) / CAST(t.n AS DOUBLE)')} AS contamination
        FROM tot t LEFT JOIN hit h ON t.doc_id = h.doc_id""",
)
def decontam_ngram(spark, sf_dir):
    """Benchmark decontamination — the LLM-pipeline op that keeps eval
    data out of training corpora: per training doc, the fraction of its
    distinct 5-gram shingles that appear anywhere in the benchmark set
    (here: source 'src0' stands in for the held-out benchmark). The
    benchmark shingle set is DISTINCT + broadcast (benchmarks are tiny
    next to a 100 TB corpus); the training side pays one broadcast
    semi-probe + one agg — no shuffle of the corpus by shingle."""
    docs = load_table(spark, sf_dir, "documents")
    # shingle each side AFTER its source filter: the join-then-filter
    # form re-ran the full-corpus explode+distinct in every consumer
    # subtree (bench, tot, hit — three corpus passes); now the
    # benchmark explodes only its own docs and the training corpus
    # explodes once.
    bench = (
        _shingles(docs.filter(F.col("source") == "src0"), 5)
        .select("shingle")
        .distinct()
    )
    tr = _shingles(docs.filter(F.col("source") != "src0"), 5)
    # ONE aggregation: the broadcast left-probe tags hits, count(_hit)
    # counts non-nulls — fuses the old tot/hit aggregate pair and their
    # sort-merge rejoin into a single pass (values identical: a doc
    # with no hits gets nh=0, exactly the old coalesce(nh, 0)).
    flagged = tr.join(
        F.broadcast(bench.withColumn("_hit", F.lit(1))), "shingle", "left"
    )
    return (
        flagged.groupBy("doc_id")
        .agg(F.count("*").alias("n"), F.count("_hit").alias("nh"))
        .select(
            "doc_id",
            round6(F.col("nh") / F.col("n").cast("double")).alias(
                "contamination"
            ),
        )
    )


@register(
    "dedup_cross_source",
    """WITH h AS (
         SELECT md5(array_to_string(string_split(text, ' ')[1:8], ' ')) AS h,
                source, doc_id
         FROM documents),
       grp AS (
         SELECT h, COUNT(*) AS n_docs, COUNT(DISTINCT source) AS n_sources,
                MIN(doc_id) AS canonical_id
         FROM h GROUP BY 1)
       SELECT h, CAST(n_docs AS BIGINT) AS n_docs,
              CAST(n_sources AS BIGINT) AS n_sources,
              CAST(canonical_id AS BIGINT) AS canonical_id
       FROM grp WHERE n_sources > 1""",
)
def dedup_cross_source(spark, sf_dir):
    """Cross-source duplicate provenance: duplicate groups (keyed by a
    leading-8-token prefix fingerprint — exact-hash grouping works the
    same way but never fires on this corpus) that span more than one
    source — the question a training-data pipeline asks before
    deciding which copy to keep and which source to down-weight. One
    map-side-combinable shuffle on the fingerprint; at 100 TB the
    groupBy is the same plan as dedup_exact."""
    docs = load_table(spark, sf_dir, "documents")
    fp = F.md5(F.concat_ws(" ", F.slice(F.split("text", " "), 1, 8)))
    return (
        docs.select(fp.alias("h"), "source", "doc_id")
        .groupBy("h")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.countDistinct("source").cast("long").alias("n_sources"),
            F.min("doc_id").cast("long").alias("canonical_id"),
        )
        .filter(F.col("n_sources") > 1)
    )


# ------------------------------------------- exact-substring span dedup

# Rolling-window width in tokens. The published exact-substring dedup
# (Lee et al. 2022, "Deduplicating Training Data Makes Language Models
# Better") marks any >=50-token span that re-occurs verbatim anywhere
# in the corpus; the suffix-array they use is a single-machine
# structure, so the distributed re-expression is rolling fixed-width
# window hashes — a window is duplicated iff its W tokens appear
# verbatim in another document. W=16 fits the synthetic corpus's
# document lengths while keeping the same semantics.
_SPAN_W = 16


@register(
    "dedup_substring_spans",
    f"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        wins AS (
          SELECT doc_id, md5(array_to_string(w[i.i : i.i + {_SPAN_W - 1}], ' ')) AS h
          FROM t, UNNEST(generate_series(1, greatest(len(w) - {_SPAN_W - 1}, 0))) AS i(i)),
        shared AS (
          SELECT h FROM wins GROUP BY 1 HAVING COUNT(DISTINCT doc_id) >= 2),
        per_doc AS (
          SELECT w.doc_id,
                 COUNT(*) AS n_windows,
                 SUM(CASE WHEN s.h IS NOT NULL THEN 1 ELSE 0 END) AS n_dup_windows
          FROM wins w LEFT JOIN shared s ON s.h = w.h
          GROUP BY 1)
        SELECT d.doc_id,
               CAST(COALESCE(p.n_windows, 0) AS BIGINT) AS n_windows,
               CAST(COALESCE(p.n_dup_windows, 0) AS BIGINT) AS n_dup_windows,
               COALESCE({round6_sql('CAST(p.n_dup_windows AS DOUBLE) / p.n_windows')}, 0.0) AS dup_ratio
        FROM documents d LEFT JOIN per_doc p ON p.doc_id = d.doc_id""",
)
def dedup_substring_spans(spark, sf_dir):
    """Exact-substring duplicate spans: every {W}-token rolling window
    is hashed; a window position is duplicated iff its hash occurs in
    >=2 distinct docs. Per-doc output = window count, duplicated-window
    count, duplicated fraction (the "how much of this doc is copied
    text" signal used to cut spans before training).

    Scale shape: NO pair join anywhere — the only shuffles are the
    window-hash groupBy (map-side combinable; cross-doc df per hash,
    not pairs) and the hash-keyed join back, so a corpus-hot boilerplate
    span costs O(df), never O(df^2). Window fan-out is len-{W}+1 rows
    per doc, the same order as the shingle suite."""
    docs = load_table(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")
    idx = F.when(
        F.size(words) >= _SPAN_W,
        F.sequence(F.lit(1), F.size(words) - (_SPAN_W - 1)),
    ).otherwise(F.array().cast("array<int>"))
    wins = (
        docs.select("doc_id", words.alias("w"), F.explode(idx).alias("i"))
        .select(
            "doc_id",
            F.md5(F.array_join(F.slice("w", F.col("i"), _SPAN_W), " ")).alias("h"),
        )
    )
    shared = (
        wins.groupBy("h")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("h", F.lit(True).alias("is_dup"))
    )
    per_doc = (
        wins.join(shared, "h", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_windows"),
            F.sum(
                F.when(F.col("is_dup"), F.lit(1)).otherwise(F.lit(0))
            ).cast("long").alias("n_dup_windows"),
        )
    )
    return (
        docs.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_windows", F.lit(0)).cast("long").alias("n_windows"),
            F.coalesce("n_dup_windows", F.lit(0)).cast("long").alias("n_dup_windows"),
            F.coalesce(
                round6(F.col("n_dup_windows").cast("double") / F.col("n_windows")),
                F.lit(0.0),
            ).alias("dup_ratio"),
        )
    )


# ------------------------------------------------- paragraph-level dedup

_PARA_W = 10  # words per pseudo-paragraph segment


@register(
    "dedup_paragraphs",
    f"""WITH segs AS (
          SELECT doc_id, i AS seg_idx,
                 md5(array_to_string(
                     w[(i * {_PARA_W} + 1):((i + 1) * {_PARA_W})], ' ')) AS h,
                 len(w[(i * {_PARA_W} + 1):((i + 1) * {_PARA_W})]) AS seg_words
          FROM (SELECT doc_id, {_WORDS_SQL} AS w FROM documents),
               UNNEST(generate_series(
                   0, CAST(ceil(len(w) / {_PARA_W}.0) AS BIGINT) - 1)) AS t(i)
        ),
        owners AS (
          SELECT h, MIN(doc_id * 1000000 + seg_idx) AS owner_key
          FROM segs GROUP BY h
        )
        SELECT s.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_segments,
               CAST(SUM(CASE WHEN s.doc_id * 1000000 + s.seg_idx = o.owner_key
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
               {round6_sql(
                   "SUM(CASE WHEN s.doc_id * 1000000 + s.seg_idx = o.owner_key "
                   "THEN s.seg_words ELSE 0 END) * 1.0 / SUM(s.seg_words)"
               )} AS kept_ratio
        FROM segs s JOIN owners o USING (h)
        GROUP BY s.doc_id""",
)
def dedup_paragraphs(spark, sf_dir):
    """Paragraph-level corpus dedup (CCNet-style: Wenzek et al. 2020
    drop duplicated paragraphs across shards, keeping one copy; the
    reference corpus here is single-line word soup, so "paragraph" =
    consecutive 10-word segment — same operator shape, deterministic
    unit).

    Plan: explode docs into hashed segments (narrow), ONE map-side-
    combinable shuffle for the global first-owner per segment hash
    (min (doc_id, seg_idx) key — keep-first semantics), a hash join
    back (AQE skew-join splits hot boilerplate segments), and a final
    per-doc agg. No all-pairs stage at any point, so the shape holds at
    corpus scale; the owners table is NOT broadcast because its
    cardinality is O(distinct segments)."""
    docs = load_table(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")
    n_seg = F.ceil(F.size(words) / F.lit(float(_PARA_W))).cast("long")
    segs = (
        docs.select("doc_id", words.alias("w"), n_seg.alias("ns"))
        .select(
            "doc_id",
            F.explode(F.sequence(F.lit(0), F.col("ns") - 1)).alias("seg_idx"),
            F.col("w"),
        )
        .select(
            "doc_id",
            "seg_idx",
            F.md5(
                F.array_join(
                    F.slice("w", F.col("seg_idx") * _PARA_W + 1, _PARA_W), " "
                )
            ).alias("h"),
            F.size(
                F.slice("w", F.col("seg_idx") * _PARA_W + 1, _PARA_W)
            ).alias("seg_words"),
        )
    )
    key = F.col("doc_id") * 1000000 + F.col("seg_idx")
    owners = segs.groupBy("h").agg(F.min(key).alias("owner_key"))
    kept = F.when(key == F.col("owner_key"), 1).otherwise(0)
    return (
        segs.join(owners, "h")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_segments"),
            F.sum(kept).cast("long").alias("n_kept"),
            round6(
                F.sum(kept * F.col("seg_words")).cast("double")
                / F.sum("seg_words")
            ).alias("kept_ratio"),
        )
    )


# ----------------------------------------- Bloom-filter decontamination

# The operator tier lives in operators/dedup.py (geometry derivation,
# probe family, per-row shingle arrays, the Arrow probe kernel); this
# module pins the registered query over it and generates the DuckDB
# replay oracle. Names re-exported for the streaming gate and
# the test suite (one probe family everywhere).
from marex_spark.operators.dedup import (  # noqa: E402,F401
    _BLOOM_K_MAX,
    _BLOOM_M_MIN,
    _LN2,
    bloom_decontaminate,
    bloom_geometry,
    bloom_hash_cols,
    bloom_pos_from_hashes,
    shingle_array,
)
from marex_spark.operators.dedup import bloom_pos as _bloom_pos  # noqa: E402,F401


def _bloom_hash_sql(expr: str, start: int) -> str:
    # one md5, two 60-bit halves (hex 1-15 and 17-31) — the engine's
    # bloom_hash_cols; m comes from the bloom_geom CTE, so the oracle
    # adapts to the benchmark size exactly like bloom_geometry() does.
    return (
        f"CAST(CONCAT('0x', SUBSTRING(md5({expr}), {start}, 15)) "
        f"AS BIGINT) % (SELECT m FROM bloom_geom)"
    )


_DECONTAM_BLOOM_SQL = f"""WITH sh AS ({_shingles_sql(5)}),
    s AS MATERIALIZED (
      SELECT sh.doc_id, sh.shingle, d.source
      FROM sh JOIN documents d USING (doc_id)),
    bench AS MATERIALIZED (
      SELECT DISTINCT shingle FROM s WHERE source = 'src0'),
    bloom_geom AS MATERIALIZED (
      SELECT n,
             CAST(POWER(2, CAST(CEIL(LOG2(GREATEST(10 * CAST(n AS BIGINT), {_BLOOM_M_MIN}))) AS INT)) AS BIGINT) AS m,
             LEAST({_BLOOM_K_MAX}, GREATEST(1, CAST(FLOOR(
               POWER(2, CAST(CEIL(LOG2(GREATEST(10 * CAST(n AS BIGINT), {_BLOOM_M_MIN}))) AS INT))
               * {_LN2!r} / GREATEST(n, 1) + 0.5) AS INT))) AS k
      FROM (SELECT COUNT(*) AS n FROM bench)),
    bench_h AS MATERIALIZED (
      SELECT {_bloom_hash_sql('shingle', 1)} AS h1,
             {_bloom_hash_sql('shingle', 17)} AS h2
      FROM bench),
    bits AS (
      SELECT DISTINCT p FROM (
        {" UNION ALL ".join(f"SELECT (h1 + {i} * h2) % (SELECT m FROM bloom_geom) AS p FROM bench_h WHERE {i} < (SELECT k FROM bloom_geom)" for i in range(_BLOOM_K_MAX))}
      )),
    tr AS MATERIALIZED (
      SELECT doc_id, shingle FROM s WHERE source <> 'src0'),
    tr_h AS MATERIALIZED (
      SELECT doc_id, shingle,
             {_bloom_hash_sql('shingle', 1)} AS h1,
             {_bloom_hash_sql('shingle', 17)} AS h2
      FROM tr),
    probes AS (
      {" UNION ALL ".join(f"SELECT doc_id, shingle, {i} AS i, (h1 + {i} * h2) % (SELECT m FROM bloom_geom) AS p FROM tr_h WHERE {i} < (SELECT k FROM bloom_geom)" for i in range(_BLOOM_K_MAX))}
    ),
    hits AS (
      SELECT doc_id, shingle
      FROM probes JOIN bits USING (p)
      GROUP BY doc_id, shingle
      HAVING COUNT(DISTINCT i) = (SELECT k FROM bloom_geom)),
    tot AS (SELECT doc_id, COUNT(*) AS n FROM tr GROUP BY doc_id),
    hf AS (SELECT doc_id, COUNT(*) AS nh FROM hits GROUP BY doc_id)
    SELECT t.doc_id,
           CAST(t.n AS BIGINT) AS n_shingles,
           CAST(COALESCE(h.nh, 0) AS BIGINT) AS n_flagged,
           {round6_sql('COALESCE(h.nh, 0) / CAST(t.n AS DOUBLE)')} AS contamination_bloom
    FROM tot t LEFT JOIN hf h ON t.doc_id = h.doc_id"""


@register("decontam_bloom", _DECONTAM_BLOOM_SQL)
def decontam_bloom(spark, sf_dir):
    """Bloom-filter benchmark decontamination — the constant-space form
    of :func:`decontam_ngram`: the held-out benchmark's 5-gram shingles
    (source 'src0') are folded into an m-bit Bloom bitset (K-M double
    hashing — ONE md5 per shingle, k positions (h1 + i·h2) mod m), and
    every TRAINING shingle is probed against it — flagged
    iff all k bits are set, so contamination_bloom ⊇ the exact fraction
    (false positives possible, false negatives impossible — the
    property that makes Bloom the right gate before an exact check).

    Pins :func:`marex_spark.operators.dedup.bloom_decontaminate` at
    today's constants (5-gram shingles, benchmark = source 'src0',
    corpus = everything else; round6 on the fraction for the hash
    gate). Scale shape lives with the operator: derived (m, k), the
    bitset packed 8:1 in a broadcast variable, and ONE mapInArrow
    kernel that shingles, hashes, probes and counts per doc — ZERO
    joins and ZERO exchanges on the corpus side at any benchmark size
    (plan-pinned in tests/test_plans.py — the benchmark/training split
    is a pushed-down source filter)."""
    docs = load_table(spark, sf_dir, "documents")
    out = bloom_decontaminate(
        docs.filter(F.col("source") != "src0"),
        docs.filter(F.col("source") == "src0"),
        n=5,
    )
    return out.select(
        "doc_id",
        "n_shingles",
        "n_flagged",
        round6(F.col("contamination_bloom")).alias("contamination_bloom"),
    )


# ----------------------------------- hash-threshold distinct sketch (theta)

# md5's first 15 hex chars are a uniform 60-bit integer; keeping only
# hashes below 2^60 / _THETA_SCALE is a fixed-threshold theta sketch:
# the survivor count is Binomial(D, 1/scale), so survivors * scale is
# an unbiased estimate of the distinct count D with relative stderr
# ~ sqrt(scale / D). Unlike approx_count_distinct (whose HLL register
# layout no other engine replays), this sketch is exact arithmetic on
# md5 — bit-identical in any engine, so the oracle verifies it.
_THETA_SCALE = 16
_THETA_THRESHOLD = (1 << 60) // _THETA_SCALE


@register(
    "sketch_theta_distinct",
    f"""WITH sh AS (
      SELECT source, w[i] || ' ' || w[i + 1] || ' ' || w[i + 2] AS shingle
      FROM (SELECT source, {_WORDS_SQL} AS w FROM documents),
           UNNEST(generate_series(1, greatest(len(w) - 2, 0))) AS t(i)),
    hv AS (
      SELECT DISTINCT source,
             CAST(CONCAT('0x', SUBSTRING(md5(shingle), 1, 15)) AS BIGINT) AS h
      FROM sh
      WHERE CAST(CONCAT('0x', SUBSTRING(md5(shingle), 1, 15)) AS BIGINT)
            < {_THETA_THRESHOLD})
    SELECT source, COUNT(*) AS n_sample,
           CAST(COUNT(*) * {_THETA_SCALE} AS BIGINT) AS est_distinct
    FROM hv GROUP BY 1""",
)
def sketch_theta_distinct(spark, sf_dir):
    """Distinct 3-gram-shingle count per source via a fixed-threshold
    theta sketch (the KMV/theta family, Dasgupta et al. 2016): hash
    every shingle to a uniform 60-bit md5 integer, keep only hashes
    under 2^60/{_THETA_SCALE}, count the distinct survivors, scale up.

    Scale shape: the threshold filter runs map-side BEFORE the distinct,
    so the exchange carries ~1/{_THETA_SCALE} of the distinct mass and
    the estimate is mergeable across any partitioning (survivor sets
    union). This is how a 100 TB corpus profiles per-domain vocabulary
    without paying a full-cardinality distinct shuffle — and unlike
    approx_count_distinct's HLL it is deterministic and replayable in
    any md5-capable engine, which is what lets the DuckDB oracle
    hash-verify it."""
    from marex_spark.operators.sketch import theta_distinct

    docs = load_table(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")
    idx = F.when(
        F.size(words) >= 3, F.sequence(F.lit(1), F.size(words) - 2)
    ).otherwise(F.array().cast("array<int>"))
    parts = [F.element_at(F.col("w"), F.col("i") + j) for j in range(3)]
    sh = docs.select(
        "source", words.alias("w"), F.explode(idx).alias("i")
    ).select("source", F.concat_ws(" ", *parts).alias("shingle"))
    return theta_distinct(sh, ["source"], F.col("shingle"), _THETA_SCALE)


# --------------------------------- corpus-overlap audit (source MinHash)

# Dataset-overlap estimation between sources: per-source MinHash
# signatures (64 permutations over the same universal family as LSH),
# estimated Jaccard = fraction of matching minima — the standard
# signature estimator (E[match] = J). This is how two corpora are
# audited for overlap/contamination WITHOUT a cross-corpus shingle
# join: each corpus folds to a 64-int signature in one combined pass.
_SO_K = 64
_SO_A = [(1_103_515_245 * (h + 1) + 12_345) % _MH_P for h in range(_SO_K)]
_SO_B = [(22_695_477 * h + 1) % _MH_P for h in range(_SO_K)]

_SO_PARAMS_SQL = ", ".join(
    f"({h}, {a}, {b})" for h, (a, b) in enumerate(zip(_SO_A, _SO_B))
)


@register(
    "sketch_source_overlap",
    f"""WITH sh AS (
      SELECT source, w[i] || ' ' || w[i + 1] || ' ' || w[i + 2] AS shingle
      FROM (SELECT source, {_WORDS_SQL} AS w FROM documents),
           UNNEST(generate_series(1, greatest(len(w) - 2, 0))) AS t(i)),
    si AS (
      SELECT source,
             CAST(CONCAT('0x', SUBSTRING(md5(shingle), 1, 15)) AS BIGINT)
               % {_MH_P} AS s
      FROM sh),
    params(h, a, b) AS (VALUES {_SO_PARAMS_SQL}),
    sig AS (
      SELECT source, h, MIN((s * a + b) % {_MH_P}) AS m
      FROM si, params GROUP BY 1, 2),
    pairs AS (
      SELECT sa.source AS source_a, sb.source AS source_b,
             CAST(SUM(CASE WHEN sa.m = sb.m THEN 1 ELSE 0 END) AS BIGINT)
               AS n_match
      FROM sig sa JOIN sig sb
        ON sa.h = sb.h AND sa.source < sb.source
      GROUP BY 1, 2)
    SELECT source_a, source_b, n_match,
           {round6_sql(f'n_match / {float(_SO_K)}')} AS est_jaccard
    FROM pairs""",
)
def sketch_source_overlap(spark, sf_dir):
    """Pairwise shingle-set overlap between sources, estimated from
    {_SO_K}-permutation MinHash signatures: est_jaccard = fraction of
    matching minima (unbiased, stderr ~ sqrt(J(1-J)/{_SO_K})).

    Scale shape: each source's signature comes out of ONE map-side-
    combined groupBy (the {_SO_K} minima as columns — same shape as
    _lsh_bands, no shingle distinct needed because min is idempotent);
    the pair comparison then runs on the sources-sized signature table
    (k ints per corpus). Auditing two 100 TB corpora for overlap costs
    one pass over each — no cross-corpus join ever touches shingles."""
    from marex_spark.operators.sketch import (
        minhash_signatures,
        signature_overlap,
    )

    docs = load_table(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")
    idx = F.when(
        F.size(words) >= 3, F.sequence(F.lit(1), F.size(words) - 2)
    ).otherwise(F.array().cast("array<int>"))
    parts = [F.element_at(F.col("w"), F.col("i") + j) for j in range(3)]
    sh = docs.select(
        "source", words.alias("w"), F.explode(idx).alias("i")
    ).select("source", F.concat_ws(" ", *parts).alias("shingle"))
    sig = minhash_signatures(sh, ["source"], F.col("shingle"), _SO_K, p=_MH_P)
    return signature_overlap(sig, "source", _SO_K)
