"""North-star extension queries: dedup, similarity search, text
analysis, sessionization, JSON extraction, as-of join.

Each entry pairs the Spark operator (operators/*) with a DuckDB oracle
that recomputes the same values with portable list/regex SQL — since
round 9 including the xxhash64-based SimHash (whose oracle replays
Spark's hash bit-for-bit via the generated SQL in _xxh64_sql.py) and
the BPE merge loop (replayed as chained CTEs); only the DDL-text
fixture queries register without an oracle.

Pair-wise ops are bounded by id predicates: the O(n²) form is the
*verify* stage; the scale path (MinHash bands, IVF buckets) is what
runs unbounded.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..operators import dedup as D
from ..operators import similarity as S
from ..operators import textstats as X
from ..sources import load_table
from . import _xxh64_sql as _X
from . import query

# DuckDB fragment: lowercased whitespace tokens, empties dropped —
# mirrors functions/text.py::tokens.
_DTOKS = "list_filter(string_split_regex(lower(trim(text)), '\\s+'), x -> x <> '')"
_DSET = f"list_distinct({_DTOKS})"


# ---------------------------------------------------------------------------
# dedup family
# ---------------------------------------------------------------------------


@query(
    "dedup_exact",
    oracle=f"""
    SELECT MIN(doc_id) AS doc_id, COUNT(*) AS dup_cnt
    FROM (SELECT doc_id,
                 md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
          FROM documents)
    GROUP BY fp
    """,
)
def dedup_exact(spark, sf_dir):
    return D.exact_dedup_survivors(load_table(spark, sf_dir, "documents"))


@query(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH d AS (SELECT doc_id, {_DSET} AS toks FROM documents WHERE doc_id <= 200)
    SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
           ROUND(len(list_intersect(a.toks, b.toks))::DOUBLE
                 / len(list_distinct(list_concat(a.toks, b.toks))), 4) AS jac
    FROM d a JOIN d b ON a.doc_id < b.doc_id
    WHERE len(list_intersect(a.toks, b.toks))::DOUBLE
          / len(list_distinct(list_concat(a.toks, b.toks))) >= 0.8
    """,
)
def dedup_ngram_jaccard(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") <= 200)
    return D.jaccard_pairs(docs, threshold=0.8)


@query(
    "dedup_sorted_neighborhood",
    # Oracle mirrors the METHOD, not just the verified output: same
    # sort key (lowercased trimmed text, doc_id tie-break), same
    # rank-window candidate set (b.rn - a.rn in 1..5), same exact
    # word-set Jaccard on the survivors. ROW_NUMBER parity holds
    # because the key order is a total order over (ASCII-ish) strings
    # in both engines' binary collation.
    oracle=f"""
    WITH d AS (SELECT doc_id, lower(trim(text)) AS k, {_DSET} AS toks
               FROM documents),
    r AS (SELECT doc_id, toks,
                 ROW_NUMBER() OVER (ORDER BY k, doc_id) AS rn FROM d)
    SELECT LEAST(a.doc_id, b.doc_id) AS doc_id_a,
           GREATEST(a.doc_id, b.doc_id) AS doc_id_b,
           ROUND(len(list_intersect(a.toks, b.toks))::DOUBLE
                 / len(list_distinct(list_concat(a.toks, b.toks))), 4) AS jac
    FROM r a JOIN r b ON b.rn - a.rn BETWEEN 1 AND 5
    WHERE len(list_intersect(a.toks, b.toks))::DOUBLE
          / len(list_distinct(list_concat(a.toks, b.toks))) >= 0.9
    """,
)
def dedup_sorted_neighborhood(spark, sf_dir):
    """Sorted-neighborhood dedup (`operators/dedup.py::
    sorted_neighborhood_pairs`): the third blocking strategy beside
    LSH and prefix-filtering — ONE terasort-decomposed range sort,
    then rank-adjacency joins on consecutive integers (n·window
    candidates, skew-impossible keys). Recall is the key-choice trade
    (pinned in tests: edits in the leading words escape the window);
    the collision-floor corpus stays cheap here because adjacency, not
    token sharing, gates the candidate set."""
    return D.sorted_neighborhood_pairs(
        load_table(spark, sf_dir, "documents"), threshold=0.9, window=5
    )


@query(
    "dedup_cluster_assign",
    # exact oracle: DuckDB computes the same components as reachability
    # closure (recursive CTE), component id = min reachable doc_id
    oracle=f"""
    WITH RECURSIVE
    d AS (SELECT doc_id, {_DSET} AS toks FROM documents WHERE doc_id <= 200),
    p AS (SELECT a.doc_id AS a, b.doc_id AS b
          FROM d a JOIN d b ON a.doc_id < b.doc_id
          WHERE len(list_intersect(a.toks, b.toks))::DOUBLE
                / len(list_distinct(list_concat(a.toks, b.toks))) >= 0.8),
    e AS (SELECT a AS s, b AS dd FROM p UNION SELECT b, a FROM p),
    reach(id, comp) AS (
        SELECT s, s FROM e
        UNION
        SELECT e.s, r.comp FROM e JOIN reach r ON e.dd = r.id
    )
    SELECT id::BIGINT AS doc_id, MIN(comp)::BIGINT AS cluster_id
    FROM reach GROUP BY id
    """,
)
def dedup_cluster_assign(spark, sf_dir):
    """Near-dup CLUSTERS: word-set Jaccard pairs -> connected
    components; cluster id = min doc_id in the component. The
    keep-one-per-cluster dedup is then `filter(doc_id = cluster_id)`."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") <= 200)
    comps = D.connected_components(D.jaccard_pairs(docs, threshold=0.8))
    return comps.select(
        F.col("id").cast("long").alias("doc_id"),
        F.col("comp").cast("long").alias("cluster_id"),
    )


@query(
    "dedup_cluster_assign_star",
    # identical reachability-closure oracle: the star algorithm computes
    # the SAME min-id components, just in O(log n) rounds
    oracle=f"""
    WITH RECURSIVE
    d AS (SELECT doc_id, {_DSET} AS toks FROM documents WHERE doc_id <= 200),
    p AS (SELECT a.doc_id AS a, b.doc_id AS b
          FROM d a JOIN d b ON a.doc_id < b.doc_id
          WHERE len(list_intersect(a.toks, b.toks))::DOUBLE
                / len(list_distinct(list_concat(a.toks, b.toks))) >= 0.8),
    e AS (SELECT a AS s, b AS dd FROM p UNION SELECT b, a FROM p),
    reach(id, comp) AS (
        SELECT s, s FROM e
        UNION
        SELECT e.s, r.comp FROM e JOIN reach r ON e.dd = r.id
    )
    SELECT id::BIGINT AS doc_id, MIN(comp)::BIGINT AS cluster_id
    FROM reach GROUP BY id
    """,
)
def dedup_cluster_assign_star(spark, sf_dir):
    """Adversarial-diameter twin of dedup_cluster_assign: the
    large-star/small-star path (O(log n) rounds on chain graphs where
    min-label needs O(diameter))."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") <= 200)
    comps = D.connected_components(
        D.jaccard_pairs(docs, threshold=0.8), algorithm="star"
    )
    return comps.select(
        F.col("id").cast("long").alias("doc_id"),
        F.col("comp").cast("long").alias("cluster_id"),
    )


@query(
    "dedup_minhash_lsh",
    oracle=f"""
    WITH d AS (SELECT doc_id, {_DSET} AS toks FROM documents)
    SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
           ROUND(len(list_intersect(a.toks, b.toks))::DOUBLE
                 / len(list_distinct(list_concat(a.toks, b.toks))), 4) AS jac
    FROM d a JOIN d b ON a.doc_id < b.doc_id
    WHERE len(list_intersect(a.toks, b.toks))::DOUBLE
          / len(list_distinct(list_concat(a.toks, b.toks))) >= 0.9
    """,
)
def dedup_minhash_lsh(spark, sf_dir):
    # LSH s-curve (16 bands × 4 rows) crosses ~0.5, so pairs at the
    # 0.9 verify threshold are candidates with P(miss) ≈ 4e-8 — the
    # brute-force oracle matches (verified in tests at sf0.01). At
    # 100 TB only the band join shuffles; no all-pairs stage exists.
    # The exact verify joins the sets back after the band join: an
    # in-join verify measured 4x slower at sf0.1 (30.7 vs 7.6 s)
    # because the set payload rides the band-explode exchange x16.
    return D.minhash_dedup_pairs(load_table(spark, sf_dir, "documents"), threshold=0.9)


_SALT_SQL = " || ' s'||doc_id||'a s'||doc_id||'b s'||doc_id||'c'" \
    " || ' s'||doc_id||'d s'||doc_id||'e s'||doc_id||'f'"


@query(
    "dedup_minhash_df_pruned",
    # Planted-twin construction (the dedup_embedding_lsh_planted
    # pattern): the synthetic corpus is ITSELF the template-heavy case
    # (every token sits at df~0.78 — pure boilerplate mass, the
    # collision floor measured in SCALE.md §11), so 25 duplicate pairs
    # are planted whose copies share 6 rare salt tokens. DF pruning at
    # 0.5 drops the boilerplate vocabulary entirely; the planted pairs
    # survive on their rare-token sets (>= the 5-token floor) with
    # Jaccard exactly 1.0, and the quadratic collision mass vanishes.
    oracle=f"""
    WITH base AS (SELECT doc_id, text FROM documents),
    salt AS (SELECT doc_id, text{_SALT_SQL} AS text FROM base WHERE doc_id < 25),
    corpus AS (SELECT doc_id, text FROM base
               UNION ALL SELECT doc_id + 1000000, text FROM salt
               UNION ALL SELECT doc_id + 2000000, text FROM salt),
    d AS (SELECT doc_id, {_DSET} AS toks FROM corpus),
    x AS (SELECT doc_id, unnest(toks) AS tok FROM d),
    n AS (SELECT COUNT(*) AS n_docs FROM d),
    keep AS (SELECT tok FROM (SELECT tok, COUNT(*) AS df FROM x GROUP BY tok), n
             WHERE df <= 0.5 * n_docs),
    p AS (SELECT doc_id, list(tok) AS toks
          FROM x JOIN keep USING (tok) GROUP BY doc_id HAVING COUNT(*) >= 5)
    SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
           ROUND(len(list_intersect(a.toks, b.toks))::DOUBLE
                 / len(list_distinct(list_concat(a.toks, b.toks))), 4) AS jac
    FROM p a JOIN p b ON a.doc_id < b.doc_id
    WHERE len(list_intersect(a.toks, b.toks))::DOUBLE
          / len(list_distinct(list_concat(a.toks, b.toks))) >= 0.9
    """,
)
def dedup_minhash_df_pruned(spark, sf_dir):
    """MinHash-LSH with document-frequency shingle pruning — the
    production mitigation for template-heavy / collision-floor corpora
    (SCALE.md §4/§11): tokens in more than ``df_prune`` of docs are
    boilerplate mass that generates band collisions without near-dup
    signal; dropping them (plus a min-5-token set floor) collapses the
    candidate volume from quadratic to output-sized. Jaccard applies
    to the PRUNED sets — recall traded explicitly, audited by
    dedup_lsh_recall_audit. Costs two extra uniform-key token-stream
    shuffles (the DF pass a CCNet/Dolma-style pipeline already runs);
    the banded plan is unchanged."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    salt_parts = []
    for j in "abcdef":
        salt_parts += [F.lit(" s"), F.col("doc_id").cast("string"), F.lit(j)]
    salted = docs.filter(F.col("doc_id") < 25).select(
        "doc_id", F.concat(F.col("text"), *salt_parts).alias("text")
    )
    corpus = (
        docs.unionByName(
            salted.select((F.col("doc_id") + 1000000).alias("doc_id"), "text")
        )
        .unionByName(
            salted.select((F.col("doc_id") + 2000000).alias("doc_id"), "text")
        )
    )
    return D.minhash_dedup_pairs(
        corpus, threshold=0.9, df_prune=0.5, min_set=5
    )


@query(
    "dedup_embedding_lsh",
    oracle="""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings)
    SELECT a.vec_id AS vec_id_a, b.vec_id AS vec_id_b,
           ROUND(list_cosine_similarity(a.emb, b.emb), 4) AS cos
    FROM e a JOIN e b ON a.vec_id < b.vec_id
    WHERE list_cosine_similarity(a.emb, b.emb) >= 0.95
    """,
)
def dedup_embedding_lsh(spark, sf_dir):
    # Scale path for embedding near-dup: random-hyperplane LSH
    # candidates + exact-cosine verify, over the FULL table (no id
    # bound — the brute-force twin needs one, this doesn't). The
    # synthetic embeddings are near-orthogonal (max pairwise cos < 0.7
    # at every SF), so this output is legitimately empty; the planted
    # variant below is the non-vacuous driver-gate twin.
    return D.embedding_lsh_dedup_pairs(
        load_table(spark, sf_dir, "embeddings"), threshold=0.95, dim=64
    )


@query(
    "dedup_embedding_lsh_planted",
    oracle="""
    WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
    dup AS (SELECT vec_id + 1000000 AS vec_id,
                   list_transform(emb, x -> x * 2) AS emb
            FROM base WHERE vec_id < 50),
    e AS (SELECT * FROM base UNION ALL SELECT * FROM dup)
    SELECT a.vec_id AS vec_id_a, b.vec_id AS vec_id_b,
           ROUND(list_cosine_similarity(a.emb, b.emb), 4) AS cos
    FROM e a JOIN e b ON a.vec_id < b.vec_id
    WHERE list_cosine_similarity(a.emb, b.emb) >= 0.95
    """,
)
def dedup_embedding_lsh_planted(spark, sf_dir):
    """LSH near-dup with PLANTED duplicates, so the driver gate sees
    real rows (the raw embeddings have no pairs above cos 0.7 — the
    plain `dedup_embedding_lsh` oracle is vacuously empty).

    Each vec_id < 50 gains a copy at id+1000000 scaled by exactly 2:
    power-of-two scaling is exact in IEEE754, so unit(2v) == unit(v)
    bitwise, the copy's sign bits are identical, and the LSH candidate
    stage can NEVER miss the pair — the brute-force oracle match is
    structural, not probabilistic. Cast to double before scaling so
    Spark and DuckDB double the same float-derived doubles.
    """
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    dup = emb.filter(F.col("vec_id") < 50).select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.transform("embedding", lambda x: x * 2).alias("embedding"),
    )
    return D.embedding_lsh_dedup_pairs(emb.unionAll(dup), threshold=0.95, dim=64)


@query(
    "dedup_simhash",
    # exact oracle since round 9: the xxhash64 token hashes are
    # replayed bit-for-bit in DuckDB by a generated mod-2^64 HUGEINT
    # CTE chain (_xxh64_sql.py — 32-bit-split multiplies, exact
    # rotations, list_reduce folds), so the production JVM-hash path
    # itself is differentially gated, not just its md5 twin. ASCII +
    # len<32 fixture assumptions fail loudly via error() guards.
    oracle=_X.simhash_xxh64_oracle(_DTOKS, max_doc_id=300, max_hamming=6),
)
def dedup_simhash(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") <= 300)
    return D.simhash_dedup_pairs(docs, max_hamming=6)


@query(
    "dedup_simhash_md5",
    # Exact oracle: with 8 bands over 64 bits, any pair at hamming <= 7
    # shares at least one identical band (pigeonhole), so the banded
    # candidate stage loses nothing at max_hamming=6 and the oracle can
    # be a plain all-pairs hamming filter. Signatures are reproduced
    # bit-for-bit: token bit i = bit (3 - i%4) of hex digit i//4 of
    # md5(token), majority-voted per document (ties -> 0, matching
    # Spark's strict `2c > n`).
    oracle=f"""
    WITH d AS (SELECT doc_id, {_DTOKS} AS toks FROM documents WHERE doc_id <= 300),
    tok AS (SELECT doc_id, md5(unnest(toks)) AS m FROM d),
    tb AS (SELECT doc_id, i,
                  ((strpos('0123456789abcdef', substr(m, (i // 4) + 1, 1)) - 1)
                    >> (3 - (i % 4))) & 1 AS b
           FROM tok CROSS JOIN range(64) r(i)),
    cnt AS (SELECT doc_id, i, SUM(b) AS c, COUNT(*) AS n FROM tb GROUP BY doc_id, i),
    sigtok AS (SELECT doc_id,
                      list(CASE WHEN c * 2 > n THEN 1 ELSE 0 END ORDER BY i) AS bits
               FROM cnt GROUP BY doc_id),
    sig AS (SELECT d.doc_id,
                   coalesce(s.bits, list_transform(range(64), x -> 0)) AS bits
            FROM d LEFT JOIN sigtok s USING (doc_id)),
    pairs AS (SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
                     len(list_filter(range(64), i -> a.bits[i + 1] <> b.bits[i + 1]))::INT AS hd
              FROM sig a JOIN sig b ON a.doc_id < b.doc_id)
    SELECT doc_id_a, doc_id_b, hd FROM pairs WHERE hd <= 6
    """,
)
def dedup_simhash_md5(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") <= 300)
    return D.simhash_dedup_pairs(docs, max_hamming=6, bit_source="md5")


@query(
    "dedup_embedding_cosine",
    oracle="""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb
               FROM embeddings WHERE vec_id <= 300),
    p AS (SELECT a.vec_id AS vec_id_a, b.vec_id AS vec_id_b,
                 list_dot_product(a.emb, b.emb)
                   / (sqrt(list_dot_product(a.emb, a.emb))
                      * sqrt(list_dot_product(b.emb, b.emb))) AS cos
          FROM e a JOIN e b ON a.vec_id < b.vec_id)
    SELECT vec_id_a, vec_id_b, ROUND(cos, 4) AS cos FROM p WHERE cos >= 0.35
    """,
)
def dedup_embedding_cosine(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") <= 300)
    return D.embedding_dedup_pairs(emb, threshold=0.35)


@query(
    "dedup_semantic",
    # Mirrors the sim_ann_ivf deterministic construction: centroids =
    # first 8 vectors by md5(vec_id); assignment = argmax cosine with
    # (sim DESC, c_id ASC) tie-break; then SemDeDup's within-cluster
    # prune — drop iff a smaller-id same-bucket vector is >= 0.3 cosine.
    oracle="""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
    cents AS (SELECT vec_id AS c_id, emb AS cv FROM v
              ORDER BY md5(vec_id::VARCHAR) LIMIT 8),
    sc AS (SELECT v.vec_id AS id, c.c_id,
                  list_dot_product(v.emb, c.cv)
                    / (sqrt(list_dot_product(v.emb, v.emb))
                       * sqrt(list_dot_product(c.cv, c.cv))) AS sim
           FROM v CROSS JOIN cents c),
    asn AS (SELECT id, c_id AS bucket FROM (
              SELECT id, c_id,
                     ROW_NUMBER() OVER (PARTITION BY id
                                        ORDER BY sim DESC, c_id) AS rn
              FROM sc) WHERE rn = 1),
    av AS (SELECT a.id, a.bucket, v.emb FROM asn a JOIN v ON v.vec_id = a.id)
    SELECT x.id AS vec_id, x.bucket,
           NOT EXISTS (
             SELECT 1 FROM av y
             WHERE y.bucket = x.bucket AND y.id < x.id
               AND list_dot_product(x.emb, y.emb)
                     / (sqrt(list_dot_product(x.emb, x.emb))
                        * sqrt(list_dot_product(y.emb, y.emb))) >= 0.3
           ) AS keep
    FROM av x
    """,
)
def dedup_semantic(spark, sf_dir):
    # kernel form: per-bucket numpy matmul in applyInPandas (4.2 s ->
    # 1.1 s at sf0.1); exact agreement with the Column-expression twin
    # is pinned at sf0.001/0.01/0.1 in tests (TestSemanticKernel)
    from ..operators.semantic import semantic_dedup_kernel

    return semantic_dedup_kernel(
        load_table(spark, sf_dir, "embeddings"), num_clusters=8, threshold=0.3
    )


@query(
    "doc_chunk_dedup",
    # Chunk = 10 consecutive tokens; survivor = global first occurrence
    # (lowest (doc_id, cidx)); docs rebuilt from surviving chunks.
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_DTOKS} AS t FROM documents),
    ch AS (SELECT doc_id, i AS cidx,
                  array_to_string(t[i*10+1 : i*10+10], ' ') AS chunk
           FROM toks, UNNEST(range(0, cast(ceil(len(t)/10.0) AS BIGINT))) u(i)
           WHERE len(t) > 0),
    k AS (SELECT doc_id, cidx, chunk,
                 ROW_NUMBER() OVER (PARTITION BY chunk ORDER BY doc_id, cidx) AS rn
          FROM ch),
    agg AS (SELECT doc_id,
                   string_agg(CASE WHEN rn = 1 THEN chunk END, ' ' ORDER BY cidx) AS clean_text,
                   COUNT(*)::BIGINT AS n_chunks,
                   (COUNT(*) FILTER (WHERE rn > 1))::BIGINT AS n_removed
            FROM k GROUP BY doc_id)
    SELECT d.doc_id, coalesce(a.clean_text, '') AS clean_text,
           coalesce(a.n_chunks, 0)::BIGINT AS n_chunks,
           coalesce(a.n_removed, 0)::BIGINT AS n_removed
    FROM documents d LEFT JOIN agg a USING (doc_id)
    """,
)
def doc_chunk_dedup(spark, sf_dir):
    """C4-style repeated-span removal with document rebuild
    (operators/dedup.py::chunk_dedup_rebuild)."""
    return D.chunk_dedup_rebuild(load_table(spark, sf_dir, "documents"), chunk_tokens=10)


@query(
    "doc_mixture_resample",
    # Rates derive from the data (budget * w / source_tokens), so the
    # oracle recomputes them in SQL; floor() mirrors Spark's
    # truncating int cast (DuckDB's CAST rounds).
    oracle=f"""
    WITH tok AS (SELECT doc_id, source, len({_DTOKS}) AS nt,
                        ('0x' || substr(md5(doc_id::VARCHAR), 1, 4))::INT AS bucket
                 FROM documents),
    tot AS (SELECT source, SUM(nt)::DOUBLE AS toks FROM tok GROUP BY source),
    tgt(source, w) AS (VALUES ('src1', 0.5), ('src2', 0.3), ('src3', 0.2)),
    rates AS (SELECT t.source, LEAST(1.0, 2000 * g.w / t.toks) AS r
              FROM tot t JOIN tgt g USING (source))
    SELECT k.source, COUNT(*)::BIGINT AS n_docs, SUM(k.nt)::BIGINT AS n_tokens
    FROM tok k JOIN rates USING (source)
    WHERE k.bucket < CAST(floor(r * 65536) AS INT)
    GROUP BY k.source
    """,
)
def doc_mixture_resample(spark, sf_dir):
    """Domain-mixture resampling toward {src1: .5, src2: .3, src3: .2}
    at a 2000-token budget (operators/sampling.py::mixture_resample);
    reports kept docs/tokens per source."""
    from ..functions import text as T
    from ..operators.sampling import mixture_resample

    docs = load_table(spark, sf_dir, "documents")
    kept = mixture_resample(
        docs, {"src1": 0.5, "src2": 0.3, "src3": 0.2}, budget_tokens=2000
    )
    return kept.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(F.size(T.tokens(F.col("text")))).cast("long").alias("n_tokens"),
    )


@query(
    "dedup_edit_distance",
    # Bounded all-pairs form = the VERIFY stage (compose with MinHash
    # band candidates for the scale path); levenshtein is the same DP
    # in both engines.
    oracle="""
    WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id <= 60)
    SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
           levenshtein(a.text, b.text)::INT AS dist
    FROM d a JOIN d b ON a.doc_id < b.doc_id
    WHERE levenshtein(a.text, b.text) <= 120
    """,
)
def dedup_edit_distance(spark, sf_dir):
    """Near-dup by raw edit distance — catches reorder-insensitive
    boilerplate variants that token-set Jaccard misses. JVM-native
    levenshtein; at scale this exact form runs only on LSH candidate
    pairs (output-sized), never all-pairs."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") <= 60)
    a = d.select(F.col("doc_id").alias("doc_id_a"), F.col("text").alias("ta"))
    b = d.select(F.col("doc_id").alias("doc_id_b"), F.col("text").alias("tb"))
    return (
        a.join(b, F.col("doc_id_a") < F.col("doc_id_b"))
        # bounded form: the DP is banded to the threshold (O(n·k), not
        # O(n²)) and returns -1 above it — exact distances below, 3×
        # faster at k=120 on ~300-char docs (3.0 s -> 0.9 s at sf0.1)
        .withColumn("dist", F.levenshtein("ta", "tb", 120).cast("int"))
        .filter(F.col("dist") >= 0)
        .select("doc_id_a", "doc_id_b", "dist")
    )


@query(
    "dedup_lsh_recall_audit",
    # The audit's ground truth is exact sampled Jaccard; at t=0.9 with
    # 16x4 bands LSH misses with p ~ 4e-8, so the oracle asserts found
    # == true and recall == 1.0 — a miss IS a defect worth failing on.
    # Slice = md5-ordered first 300 ids (fixed AUDIT BUDGET regardless
    # of corpus size), reproducible on both engines.
    oracle=f"""
    WITH s AS (SELECT doc_id, {_DSET} AS toks FROM documents
               ORDER BY md5(doc_id::VARCHAR) LIMIT 300),
    p AS (SELECT count(*) AS n FROM s a JOIN s b ON a.doc_id < b.doc_id
          WHERE len(list_intersect(a.toks, b.toks))::DOUBLE
                / len(list_distinct(list_concat(a.toks, b.toks))) >= 0.9)
    SELECT n::BIGINT AS n_true, n::BIGINT AS n_found, 1.0::DOUBLE AS recall FROM p
    """,
)
def dedup_lsh_recall_audit(spark, sf_dir):
    """Sample-audited LSH recall (operators/dedup.py::lsh_recall_report)
    on the deterministic 300-doc md5 slice — the per-batch dedup canary
    with a corpus-size-independent cost."""
    return D.lsh_recall_report(
        load_table(spark, sf_dir, "documents"), threshold=0.9, sample_size=300
    )


# ---------------------------------------------------------------------------
# similarity search
# ---------------------------------------------------------------------------


@query(
    "sim_topk_bruteforce",
    oracle="""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
    q AS (SELECT vec_id AS q_id, emb AS qv FROM v WHERE vec_id < 5),
    scored AS (SELECT q.q_id, c.vec_id AS n_id,
                      list_dot_product(qv, c.emb)
                        / (sqrt(list_dot_product(qv, qv))
                           * sqrt(list_dot_product(c.emb, c.emb))) AS score
               FROM q JOIN v c ON c.vec_id <> q.q_id),
    r AS (SELECT q_id, n_id, score,
                 ROW_NUMBER() OVER (PARTITION BY q_id
                                    ORDER BY score DESC, n_id) AS rnk
          FROM scored)
    SELECT q_id, n_id, rnk, ROUND(score, 4) AS score FROM r WHERE rnk <= 3
    """,
)
def sim_topk_bruteforce(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    out = S.brute_force_topk_arrow(emb.filter(F.col("vec_id") < 5), emb, k=3)
    return out.withColumnRenamed("rank", "rnk").select("q_id", "n_id", "rnk", "score")


@query(
    "sim_ann_ivf",
    # IVF is approximate vs brute force but fully DETERMINISTIC, so it
    # still admits an exact oracle: centroids are the first 8 vectors
    # by md5(vec_id) (reproducible ordering), assignment is argmax
    # cosine with (sim DESC, c_id ASC) tie-break — mirroring Spark's
    # max_by(c_id, struct(sim, -c_id)) — and each query searches only
    # its own bucket (nprobe=1).
    oracle="""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
    cents AS (SELECT vec_id AS c_id, emb AS cv FROM v
              ORDER BY md5(vec_id::VARCHAR) LIMIT 8),
    sc AS (SELECT v.vec_id AS v_id, c.c_id,
                  list_dot_product(v.emb, c.cv)
                    / (sqrt(list_dot_product(v.emb, v.emb))
                       * sqrt(list_dot_product(c.cv, c.cv))) AS sim
           FROM v CROSS JOIN cents c),
    asn AS (SELECT v_id, c_id AS bucket FROM (
              SELECT v_id, c_id,
                     ROW_NUMBER() OVER (PARTITION BY v_id
                                        ORDER BY sim DESC, c_id) AS rn
              FROM sc) WHERE rn = 1),
    q AS (SELECT v.vec_id AS q_id, v.emb AS qv, a.bucket AS qb
          FROM v JOIN asn a ON v.vec_id = a.v_id WHERE v.vec_id IN (0, 1, 2, 3, 4)),
    s2 AS (SELECT q.q_id, v.vec_id AS n_id,
                  list_dot_product(q.qv, v.emb)
                    / (sqrt(list_dot_product(q.qv, q.qv))
                       * sqrt(list_dot_product(v.emb, v.emb))) AS score
           FROM v JOIN asn a ON v.vec_id = a.v_id
           JOIN q ON a.bucket = q.qb AND v.vec_id <> q.q_id),
    r AS (SELECT q_id, n_id, score,
                 ROW_NUMBER() OVER (PARTITION BY q_id
                                    ORDER BY score DESC, n_id) AS rnk
          FROM s2)
    SELECT q_id, n_id, rnk, ROUND(score, 4) AS score FROM r WHERE rnk <= 3
    """,
)
def sim_ann_ivf(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    out = S.ivf_topk_arrow(emb, query_ids=[0, 1, 2, 3, 4], k=3, num_centroids=8)
    return out.withColumnRenamed("rank", "rnk").select("q_id", "n_id", "rnk", "score")


@query(
    "sim_ann_ivf_probe2",
    # nprobe=2: each query scans its TWO nearest buckets. Same
    # deterministic construction as sim_ann_ivf, so the oracle ranks
    # centroids per query (sim DESC, c_id ASC) and searches the union.
    oracle="""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
    cents AS (SELECT vec_id AS c_id, emb AS cv FROM v
              ORDER BY md5(vec_id::VARCHAR) LIMIT 8),
    sc AS (SELECT v.vec_id AS v_id, c.c_id,
                  list_dot_product(v.emb, c.cv)
                    / (sqrt(list_dot_product(v.emb, v.emb))
                       * sqrt(list_dot_product(c.cv, c.cv))) AS sim
           FROM v CROSS JOIN cents c),
    asn AS (SELECT v_id, c_id AS bucket FROM (
              SELECT v_id, c_id,
                     ROW_NUMBER() OVER (PARTITION BY v_id
                                        ORDER BY sim DESC, c_id) AS rn
              FROM sc) WHERE rn = 1),
    qp AS (SELECT v_id AS q_id, c_id AS qb FROM (
              SELECT v_id, c_id,
                     ROW_NUMBER() OVER (PARTITION BY v_id
                                        ORDER BY sim DESC, c_id) AS rn
              FROM sc WHERE v_id IN (0, 1, 2, 3, 4)) WHERE rn <= 2),
    s2 AS (SELECT qp.q_id, v.vec_id AS n_id,
                  list_dot_product(q.emb, v.emb)
                    / (sqrt(list_dot_product(q.emb, q.emb))
                       * sqrt(list_dot_product(v.emb, v.emb))) AS score
           FROM v JOIN asn a ON v.vec_id = a.v_id
           JOIN qp ON a.bucket = qp.qb
           JOIN v q ON q.vec_id = qp.q_id
           WHERE v.vec_id <> qp.q_id),
    r AS (SELECT q_id, n_id, score,
                 ROW_NUMBER() OVER (PARTITION BY q_id
                                    ORDER BY score DESC, n_id) AS rnk
          FROM s2)
    SELECT q_id, n_id, rnk, ROUND(score, 4) AS score FROM r WHERE rnk <= 3
    """,
)
def sim_ann_ivf_probe2(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    out = S.ivf_topk_arrow(emb, query_ids=[0, 1, 2, 3, 4], k=3, num_centroids=8, nprobe=2)
    return out.withColumnRenamed("rank", "rnk").select("q_id", "n_id", "rnk", "score")


@query(
    "sim_ann_pq",
    # PQ is approximate but fully deterministic: codebooks are the
    # md5-ordered first 16 vectors (subspaced), codes are argmin-L2
    # with lowest-centroid tie-break, ADC score is the sum of
    # per-subspace dots against the coded centroid. The oracle
    # rebuilds codebooks, codes, and scores from the same parquet.
    oracle="""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
    seed AS (SELECT emb, ROW_NUMBER() OVER (ORDER BY md5k) - 1 AS c_idx
             FROM (SELECT emb, md5(vec_id::VARCHAR) AS md5k FROM v
                   ORDER BY md5k LIMIT 16)),
    js AS (SELECT unnest(range(8)) AS j),
    cs AS (SELECT s.c_idx, js.j, s.emb[js.j*8+1 : js.j*8+8] AS cv
           FROM seed s CROSS JOIN js),
    dist AS (SELECT v.vec_id, c.j, c.c_idx,
                    list_sum(list_transform(range(1, 9),
                      i -> (v.emb[c.j*8+i] - c.cv[i]) * (v.emb[c.j*8+i] - c.cv[i]))) AS d
             FROM v CROSS JOIN cs c),
    codes AS (SELECT vec_id, j, c_idx AS code FROM (
                SELECT vec_id, j, c_idx,
                       ROW_NUMBER() OVER (PARTITION BY vec_id, j
                                          ORDER BY d, c_idx) AS rn
                FROM dist) WHERE rn = 1),
    q AS (SELECT vec_id AS q_id, emb AS qv FROM v WHERE vec_id IN (0, 1, 2, 3, 4)),
    contrib AS (SELECT q.q_id, n.vec_id AS n_id,
                       list_dot_product(q.qv[c.j*8+1 : c.j*8+8], cs.cv) AS part
                FROM codes c
                JOIN v n ON n.vec_id = c.vec_id
                JOIN cs ON cs.j = c.j AND cs.c_idx = c.code
                JOIN q ON q.q_id <> c.vec_id),
    s2 AS (SELECT q_id, n_id, SUM(part) AS score FROM contrib GROUP BY q_id, n_id),
    r AS (SELECT q_id, n_id, score,
                 ROW_NUMBER() OVER (PARTITION BY q_id
                                    ORDER BY score DESC, n_id) AS rnk
          FROM s2)
    SELECT q_id, n_id, rnk, ROUND(score, 4) AS score FROM r WHERE rnk <= 3
    """,
)
def sim_ann_pq(spark, sf_dir):
    """Product-quantization ANN: 32x-compressed codes + ADC scoring
    (operators/similarity.py::pq_topk)."""
    emb = load_table(spark, sf_dir, "embeddings")
    out = S.pq_topk_arrow(emb, query_ids=[0, 1, 2, 3, 4], k=3)
    return out.withColumnRenamed("rank", "rnk").select("q_id", "n_id", "rnk", "score")


@query(
    "cluster_kmeans",
    # k-means is iterative but fully DETERMINISTIC here: md5-ordered
    # seed (as the IVF family), argmax-cosine assignment with
    # (sim DESC, c_id ASC) tie-break, and per-dimension means ROUNDED
    # to 6 decimals — the rounding is the cross-engine determinism
    # valve (double AVG is accumulation-order dependent; snapping both
    # engines to 6 decimals makes the refined centroids bit-identical,
    # so the second assignment pass cannot diverge on float noise).
    oracle="""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS emb, label FROM embeddings),
    cents AS (SELECT vec_id AS c_id, emb AS cv FROM v
              ORDER BY md5(vec_id::VARCHAR) LIMIT 8),
    sc AS (SELECT v.vec_id AS v_id, c.c_id,
                  list_dot_product(v.emb, c.cv)
                    / (sqrt(list_dot_product(v.emb, v.emb))
                       * sqrt(list_dot_product(c.cv, c.cv))) AS sim
           FROM v CROSS JOIN cents c),
    asn AS (SELECT v_id, c_id AS bucket FROM (
              SELECT v_id, c_id,
                     ROW_NUMBER() OVER (PARTITION BY v_id
                                        ORDER BY sim DESC, c_id) AS rn
              FROM sc) WHERE rn = 1),
    dims AS (SELECT unnest(range(1, 65)) AS pos),
    ref AS (SELECT bucket AS c_id, list(m ORDER BY pos) AS cv FROM (
              SELECT a.bucket, d.pos, ROUND(AVG(v.emb[d.pos]), 6) AS m
              FROM asn a JOIN v ON v.vec_id = a.v_id CROSS JOIN dims d
              GROUP BY a.bucket, d.pos) GROUP BY bucket),
    sc2 AS (SELECT v.vec_id AS v_id, v.label, r.c_id,
                   list_dot_product(v.emb, r.cv)
                     / (sqrt(list_dot_product(v.emb, v.emb))
                        * sqrt(list_dot_product(r.cv, r.cv))) AS sim
            FROM v CROSS JOIN ref r),
    asn2 AS (SELECT v_id, label, c_id AS cluster_id FROM (
               SELECT v_id, label, c_id,
                      ROW_NUMBER() OVER (PARTITION BY v_id
                                         ORDER BY sim DESC, c_id) AS rn
               FROM sc2) WHERE rn = 1)
    SELECT cluster_id, COUNT(*) AS n, ROUND(AVG(label), 2) AS avg_label
    FROM asn2 GROUP BY cluster_id
    """,
)
def cluster_kmeans(spark, sf_dir):
    """One full k-means round as a registry query
    (operators/similarity.py::refine_centroids + nearest_assign):
    deterministic md5 seed of k=8, one Lloyd iteration (assign ->
    per-dim mean), re-assign the corpus to the refined centroids,
    report per-cluster size and mean planted label. The cluster pass
    every corpus curation pipeline runs before semantic dedup /
    diversity sampling. Plan: centroids ride BROADCAST joins both
    times; the corpus never shuffles whole vectors — the mean's
    shuffle carries |k| x dim rows (posexplode + partial agg), the
    final rollup |k| rows. The oracle rebuilds the identical round in
    SQL; per-dim means round to 6 decimals on BOTH engines, the
    cross-engine float-determinism valve (see refine_centroids)."""
    emb = load_table(spark, sf_dir, "embeddings")
    seed = (
        emb.select(F.col("vec_id").alias("c_id"), F.col("embedding").alias("cv"))
        .orderBy(F.md5(F.col("c_id").cast("string")))
        .limit(8)
    )
    # materialize the 8 refined centroids (offline-codebook
    # discipline, same as ivf_centroids): the assignment pass then
    # compiles against a local relation instead of re-planning the
    # whole refine subtree under the broadcast (measured ~0.8 s of
    # codegen+jobs at sf0.1)
    refined = S.refine_centroids(
        emb, seed, iters=1, mean_decimals=6
    ).localCheckpoint(eager=True)
    asn = S.nearest_assign(emb, refined)
    labeled = asn.join(
        emb.select(F.col("vec_id").alias("v_id"), "label"), "v_id"
    )
    return labeled.groupBy(F.col("bucket").alias("cluster_id")).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg("label"), 2).alias("avg_label"),
    )


# ---------------------------------------------------------------------------
# text analysis
# ---------------------------------------------------------------------------


@query(
    "text_lang_id",
    oracle=f"""
    WITH t AS (SELECT doc_id, lang, {_DTOKS} AS toks FROM documents),
    c AS (SELECT lang,
                 len(list_filter(toks, x -> list_contains(['the','is','and'], x))) AS en_cnt,
                 len(list_filter(toks, x -> list_contains(['el','la','de'], x))) AS es_cnt,
                 len(list_filter(toks, x -> list_contains(['der','und','das'], x))) AS de_cnt
          FROM t)
    SELECT lang,
           CASE WHEN en_cnt >= es_cnt AND en_cnt >= de_cnt AND en_cnt > 0 THEN 'en'
                WHEN es_cnt >= de_cnt AND es_cnt > 0 THEN 'es'
                WHEN de_cnt > 0 THEN 'de'
                ELSE 'und' END AS pred_lang,
           COUNT(*) AS n
    FROM c GROUP BY lang, pred_lang
    """,
)
def text_lang_id(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    pred = X.lang_id(docs)
    return (
        docs.select("doc_id", "lang")
        .join(pred, "doc_id")
        .groupBy("lang", "pred_lang")
        .agg(F.count("*").alias("n"))
    )


@query(
    "text_quality",
    oracle=f"""
    WITH t AS (SELECT source, text, {_DTOKS} AS toks FROM documents),
    m AS (SELECT source,
                 len(toks) AS ntok,
                 CASE WHEN length(text) > 0
                      THEN length(regexp_replace(text, '[^a-zA-Z ]', '', 'g'))::DOUBLE
                           / length(text)
                      ELSE 0.0 END AS alpha_ratio,
                 CASE WHEN len(toks) > 0
                      THEN len(list_filter(toks, x -> list_contains(
                             ['the','a','of','and','to','in','is','it'], x)))::DOUBLE
                           / len(toks)
                      ELSE 0.0 END AS stop_ratio
          FROM t),
    s AS (SELECT source,
                 ROUND(0.5 * least(ntok / 50.0, 1.0)
                       + 0.3 * alpha_ratio
                       + 0.2 * least(stop_ratio * 5, 1.0), 4) AS q
          FROM m)
    SELECT source, COUNT(*) AS docs, ROUND(AVG(q), 2) AS avg_quality
    FROM s GROUP BY source
    """,
)
def text_quality(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    return (
        X.quality(docs.select(F.col("source").alias("doc_id"), "text"))
        .withColumnRenamed("doc_id", "source")
        .groupBy("source")
        .agg(F.count("*").alias("docs"), F.round(F.avg("quality"), 2).alias("avg_quality"))
    )


@query(
    "text_token_stats",
    oracle=f"""
    SELECT lang, SUM(ntok)::BIGINT AS total_tokens,
           ROUND(AVG(ntok), 2) AS avg_tokens,
           MAX(ntok)::BIGINT AS max_tokens
    FROM (SELECT lang, len({_DTOKS}) AS ntok FROM documents)
    GROUP BY lang
    """,
)
def text_token_stats(spark, sf_dir):
    return X.token_stats_by(load_table(spark, sf_dir, "documents"), "lang")


@query(
    "text_fingerprint",
    oracle=f"""
    SELECT source, COUNT(*) AS docs, COUNT(DISTINCT fp) AS uniq_fp
    FROM (SELECT source, list_min(list_transform({_DSET}, t -> md5(t))) AS fp
          FROM documents)
    GROUP BY source
    """,
)
def text_fingerprint(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    fp = X.min_token_fingerprint(docs)
    return (
        docs.select("doc_id", "source")
        .join(fp, "doc_id")
        .groupBy("source")
        .agg(F.count("*").alias("docs"), F.countDistinct("fp").alias("uniq_fp"))
    )


# ---------------------------------------------------------------------------
# events: sessionization, JSON, as-of join
# ---------------------------------------------------------------------------


@query(
    "events_sessionize",
    oracle="""
    WITH m AS (SELECT user_id, ts, event_id,
                      CASE WHEN lag(ts) OVER w IS NULL
                                OR date_diff('second', lag(ts) OVER w, ts) > 1800
                           THEN 1 ELSE 0 END AS new_sess
               FROM events
               WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    s AS (SELECT user_id,
                 SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                     ROWS UNBOUNDED PRECEDING) AS sess_id
          FROM m),
    g AS (SELECT user_id, sess_id, COUNT(*) AS n_events FROM s GROUP BY 1, 2)
    SELECT user_id, COUNT(*) AS n_sessions,
           FLOOR(AVG(n_events) * 100) / 100 AS avg_events,
           MAX(n_events) AS max_events
    FROM g GROUP BY user_id
    """,
)
def events_sessionize(spark, sf_dir):
    # Batch gap-based sessionization (30 min). One shuffle on user_id
    # serves both windows and the session aggregation. The streaming
    # twin (session_window + watermark) lives in streaming/events.py.
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "event_id")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.col("ts").cast("long") - F.lag(F.col("ts").cast("long")).over(w)
    sess = F.sum(
        F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    ).over(w.rowsBetween(Window.unboundedPreceding, 0))
    per_sess = (
        ev.withColumn("sess_id", sess)
        .groupBy("user_id", "sess_id")
        .agg(F.count("*").alias("n_events"))
    )
    return per_sess.groupBy("user_id").agg(
        F.count("*").alias("n_sessions"),
        # floor-grid, not round: cross-engine ROUND diverges on IEEE
        # halfway values (see q36); floor(x*100)/100 is exact IEEE
        (F.floor(F.avg("n_events") * 100) / 100).alias("avg_events"),
        F.max("n_events").alias("max_events"),
    )


_STREAM_SINK_SEQ = [0]


@query(
    "stream_sessionize",
    # same output contract (and oracle) as events_sessionize — but the
    # Spark side is the STREAMING path: a file-source readStream over
    # the same parquet, session_window + watermark, drained to a
    # memory sink with trigger(availableNow=True). The driver's
    # rows/hash check therefore gates the actual stream execution, not
    # the batch plan (r3 verdict task 8).
    oracle="""
    WITH m AS (SELECT user_id, ts, event_id,
                      CASE WHEN lag(ts) OVER w IS NULL
                                OR date_diff('second', lag(ts) OVER w, ts) > 1800
                           THEN 1 ELSE 0 END AS new_sess
               FROM events
               WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    s AS (SELECT user_id,
                 SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                     ROWS UNBOUNDED PRECEDING) AS sess_id
          FROM m),
    g AS (SELECT user_id, sess_id, COUNT(*) AS n_events FROM s GROUP BY 1, 2)
    SELECT user_id, COUNT(*) AS n_sessions,
           FLOOR(AVG(n_events) * 100) / 100 AS avg_events,
           MAX(n_events) AS max_events
    FROM g GROUP BY user_id
    """,
)
def stream_sessionize(spark, sf_dir):
    """Gap-based sessionization executed as a Structured Streaming
    query (streaming/events.py::session_counts): watermarked
    session_window per user, availableNow trigger, memory sink. The
    per-user rollup over the drained sessions matches the batch
    events_sessionize contract, so the DuckDB oracle carries over
    unchanged; absolute timestamps cancel out of the gap algebra, so
    the result is timezone-shift invariant (vanilla driver session
    safe). Sink names are sequenced — the bench's warm+timed re-runs
    each get a fresh memory table."""
    from ..streaming.events import read_events_stream, run_to_memory, session_counts

    _STREAM_SINK_SEQ[0] += 1
    name = f"stream_sessionize_sink_{_STREAM_SINK_SEQ[0]}"
    run_to_memory(
        session_counts(read_events_stream(spark, sf_dir)),
        name,
        output_mode="complete",
        state_partitions=8,
    )
    sess = spark.table(name)
    return sess.groupBy("user_id").agg(
        F.count("*").alias("n_sessions"),
        (F.floor(F.avg("n_events") * 100) / 100).alias("avg_events"),
        F.max("n_events").alias("max_events"),
    )


@query(
    "events_json_extract",
    oracle="""
    SELECT json_extract_string(props, '$.k')::INT % 10 AS k_mod,
           COUNT(*) AS n, ROUND(AVG(value), 2) AS avg_value
    FROM events GROUP BY k_mod
    """,
)
def events_json_extract(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return ev.groupBy((k % 10).alias("k_mod")).agg(
        F.count("*").alias("n"), F.round(F.avg("value"), 2).alias("avg_value")
    )


@query(
    "events_asof_join",
    oracle="""
    WITH c AS (SELECT user_id, ts FROM events WHERE event_type = 'click'),
    m AS (SELECT c.user_id, c.ts,
                 (SELECT MAX(v.ts) FROM events v
                  WHERE v.event_type = 'view' AND v.user_id = c.user_id
                        AND v.ts <= c.ts) AS view_ts
          FROM c)
    SELECT user_id, COUNT(*) AS n_clicks, COUNT(view_ts) AS n_matched,
           ROUND(AVG(date_diff('second', view_ts, ts)), 2) AS avg_delay_s
    FROM m GROUP BY user_id
    """,
)
def events_asof_join(spark, sf_dir):
    # As-of join expressed as a single-pass window over the merged
    # stream: sort (user, ts), carry the last seen 'view' timestamp
    # forward, read it off each 'click' row. One shuffle on user_id —
    # no per-row subquery, no range join explosion; this is the shape
    # that survives 100 TB event logs.
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("view", "click")
    )
    is_view = (F.col("event_type") == "view").cast("int")
    # views sort before clicks at equal ts so ts >= view_ts is honored
    w = Window.partitionBy("user_id").orderBy(
        "ts", F.col("is_view").desc(), "event_id"
    ).rowsBetween(Window.unboundedPreceding, 0)
    tagged = ev.withColumn("is_view", is_view).withColumn(
        "view_ts",
        F.last(F.when(F.col("is_view") == 1, F.col("ts")), ignorenulls=True).over(w),
    )
    clicks = tagged.filter(F.col("event_type") == "click").select(
        "user_id",
        (F.col("ts").cast("long") - F.col("view_ts").cast("long")).alias("delay_s"),
        "view_ts",
    )
    return clicks.groupBy("user_id").agg(
        F.count("*").alias("n_clicks"),
        F.count("view_ts").alias("n_matched"),
        F.round(F.avg("delay_s"), 2).alias("avg_delay_s"),
    )


@query(
    "agg_rollup",
    oracle="""
    SELECT COALESCE(l_returnflag, 'ALL') AS rf,
           COALESCE(l_linestatus, 'ALL') AS ls,
           COUNT(*) AS n, ROUND(SUM(l_quantity), 2) AS sq
    FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def agg_rollup(spark, sf_dir):
    # multi-level aggregates in ONE pass (GROUPING SETS expansion is a
    # single shuffle, not one job per level)
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(F.count("*").alias("n"), F.round(F.sum("l_quantity"), 2).alias("sq"))
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("rf"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("ls"),
            "n",
            "sq",
        )
    )


@query(
    "events_range_join",
    oracle="""
    WITH s AS (SELECT user_id,
                      time_bucket(INTERVAL '6 hours', ts) AS w_start,
                      time_bucket(INTERVAL '6 hours', ts) + INTERVAL '6 hours' AS w_end
               FROM events WHERE event_type = 'signup'),
    j AS (SELECT DISTINCT s.user_id, s.w_start, e.event_id
          FROM s JOIN events e
            ON e.user_id = s.user_id
           AND e.ts >= s.w_start AND e.ts < s.w_end
           AND e.event_type <> 'signup')
    SELECT user_id, COUNT(*) AS n_follow FROM j GROUP BY user_id
    """,
)
def events_range_join(spark, sf_dir):
    # interval/range join: equi-key on user_id carries the join (hash,
    # not nested-loop); the range predicate filters inside the join.
    ev = load_table(spark, sf_dir, "events")
    s = ev.filter(F.col("event_type") == "signup").select(
        "user_id",
        F.date_trunc("hour", "ts").alias("h"),
    ).select(
        "user_id",
        (F.timestamp_seconds((F.unix_timestamp("h") / 21600).cast("long") * 21600)).alias("w_start"),
    ).withColumn("w_end", F.col("w_start") + F.expr("INTERVAL 6 HOURS"))
    e = ev.filter(F.col("event_type") != "signup").select(
        "user_id", "ts", "event_id"
    )
    j = (
        s.join(e, "user_id")
        .filter((F.col("ts") >= F.col("w_start")) & (F.col("ts") < F.col("w_end")))
        .select("user_id", "w_start", "event_id")
        .distinct()
    )
    return j.groupBy("user_id").agg(F.count("*").alias("n_follow"))


# ---------------------------------------------------------------------------
# training-data selection: deterministic sampling, packing, PII redaction
# ---------------------------------------------------------------------------


@query(
    "doc_sample_split",
    # DuckDB reproduces the exact split: the md5-bucket rule is
    # engine-independent (hex-cast the same 4 leading digits).
    oracle="""
    WITH b AS (SELECT doc_id, lang,
                      ('0x' || substr(md5(doc_id::VARCHAR), 1, 4))::INT AS bucket
               FROM documents)
    SELECT lang, COUNT(*)::BIGINT AS kept
    FROM b
    WHERE bucket < CASE WHEN lang = 'en' THEN CAST(0.10 * 65536 AS INT)
                        ELSE CAST(0.50 * 65536 AS INT) END
    GROUP BY lang
    """,
)
def doc_sample_split(spark, sf_dir):
    """Stratified DETERMINISTIC sample: downsample English to 10%,
    keep 50% of everything else — the reproducible-train-split
    primitive (membership is content-derived, so it never changes as
    the corpus grows, and any engine can recompute it)."""
    from ..operators import sampling as SP

    docs = load_table(spark, sf_dir, "documents")
    kept = SP.sample_hash(docs, rate=0.50, stratum_col="lang", stratum_rates={"en": 0.10})
    return kept.groupBy("lang").agg(F.count("*").cast("long").alias("kept"))


@query(
    "doc_pack_sequences",
    oracle=f"""
    WITH d AS (SELECT doc_id, lang, len({_DTOKS})::BIGINT AS n_tokens
               FROM documents WHERE doc_id < 300),
    c AS (SELECT doc_id, lang, n_tokens,
                 SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                                     ROWS UNBOUNDED PRECEDING) AS cum
          FROM d)
    SELECT doc_id, lang, n_tokens,
           ((cum - n_tokens) // 512)::BIGINT AS pack_id
    FROM c
    """,
)
def doc_pack_sequences(spark, sf_dir):
    """Token-budget sequence packing (concat-and-chunk batching): docs
    in id order fill 512-token packs per language; pack boundaries are
    where the running token total crosses a budget multiple. One
    window — no driver loop, no UDF."""
    from ..operators import sampling as SP

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    return SP.pack_sequences(docs, budget=512, partition_col="lang")


@query(
    "doc_pack_efficiency",
    oracle=f"""
    WITH d AS (SELECT doc_id, lang, len({_DTOKS})::BIGINT AS n_tokens
               FROM documents WHERE doc_id < 300),
    c AS (SELECT lang, n_tokens,
                 SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                                     ROWS UNBOUNDED PRECEDING) AS cum
          FROM d),
    p AS (SELECT lang, n_tokens, ((cum - n_tokens) // 512)::BIGINT AS pack_id
          FROM c)
    SELECT lang, COUNT(*)::BIGINT AS n_docs, SUM(n_tokens)::BIGINT AS tokens,
           COUNT(DISTINCT pack_id)::BIGINT AS packs_used,
           ROUND(SUM(n_tokens)::DOUBLE / (COUNT(DISTINCT pack_id) * 512), 4)
             AS utilization,
           SUM(CEIL(n_tokens / 512.0))::BIGINT AS naive_seqs,
           ROUND(1.0 - COUNT(DISTINCT pack_id)::DOUBLE
                 / SUM(CEIL(n_tokens / 512.0)), 4) AS packing_saving
    FROM p GROUP BY lang ORDER BY lang
    """,
)
def doc_pack_efficiency(spark, sf_dir):
    """Batch-construction audit over the packer's output: per-language
    token utilization of 512-token packs vs the naive one-doc-per-
    (padded)-sequence baseline — the %-of-FLOPs-wasted-on-padding
    number a training-data pipeline reports before committing a batch
    layout. Pure aggregation over pack_sequences (one window + one
    groupBy), no extra scan."""
    from ..operators import sampling as SP

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    packed = SP.pack_sequences(docs, budget=512, partition_col="lang")
    packs = F.countDistinct("pack_id").cast("long")
    naive = F.sum(F.ceil(F.col("n_tokens") / 512.0)).cast("long")
    return (
        packed.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("tokens"),
            packs.alias("packs_used"),
            F.round(
                F.sum("n_tokens").cast("double") / (packs * 512), 4
            ).alias("utilization"),
            naive.alias("naive_seqs"),
            F.round(1.0 - packs.cast("double") / naive, 4).alias(
                "packing_saving"
            ),
        )
        .orderBy("lang")
    )


@query(
    "dedup_incremental",
    oracle=f"""
    WITH d AS (SELECT doc_id, {_DSET} AS toks FROM documents)
    SELECT b.doc_id AS batch_doc_id, c.doc_id AS corpus_doc_id,
           ROUND(len(list_intersect(b.toks, c.toks))::DOUBLE
                 / len(list_distinct(list_concat(b.toks, c.toks))), 4) AS jac
    FROM d b JOIN d c ON b.doc_id >= 400 AND c.doc_id < 400
    WHERE len(list_intersect(b.toks, c.toks))::DOUBLE
          / len(list_distinct(list_concat(b.toks, c.toks))) >= 0.9
    """,
)
def dedup_incremental(spark, sf_dir):
    """Ingest-time dedup: which docs of an incoming batch
    (doc_id >= 400) near-duplicate the existing corpus (doc_id < 400)?
    The corpus side is the reusable LSH index; the batch probes it
    with a band equi-join — per-batch cost independent of corpus size
    (operators/dedup.incremental_near_dup_pairs)."""
    docs = load_table(spark, sf_dir, "documents")
    return D.incremental_near_dup_pairs(
        docs.filter(F.col("doc_id") >= 400),
        docs.filter(F.col("doc_id") < 400),
        threshold=0.9,
    )


@query(
    "layout_zorder",
    # integer shifts only — DuckDB's // with a DOUBLE divisor (2**i)
    # does true division, which silently corrupts the bit extraction
    oracle="""
    WITH z AS (
      SELECT o_orderkey,
        list_sum([ (((o_custkey % 256) >> i) & 1) * (1::BIGINT << (2*i))
                 + (((o_orderkey % 256) >> i) & 1) * (1::BIGINT << (2*i+1))
                   FOR i IN range(0, 8)])::BIGINT AS zval
      FROM orders)
    SELECT o_orderkey, zval FROM z ORDER BY zval, o_orderkey LIMIT 200
    """,
)
def layout_zorder(spark, sf_dir):
    """Z-order (Morton) layout key over two join/filter columns —
    write files in this order and scans filtering EITHER column prune
    most files (sources/layout.py; pair with compact_parquet to
    materialize). The query returns the first 200 keys of the layout
    for the differential gate."""
    from ..sources.layout import z_order_key

    orders = load_table(spark, sf_dir, "orders")
    z = orders.select(
        "o_orderkey",
        z_order_key(F.col("o_custkey") % 256, F.col("o_orderkey") % 256, bits=8).alias(
            "zval"
        ),
    )
    return z.orderBy("zval", "o_orderkey").limit(200)


@query(
    "text_length_histogram",
    oracle="""
    SELECT lang, (n_chars // 100)::BIGINT AS bucket, COUNT(*)::BIGINT AS n
    FROM documents GROUP BY 1, 2
    """,
)
def text_length_histogram(spark, sf_dir):
    """Document-length histogram per language (fixed-width buckets) —
    the profile a data curator reads before setting length filters.
    Single partial-agged groupBy."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy(
        "lang", F.floor(F.col("n_chars") / 100).cast("long").alias("bucket")
    ).agg(F.count("*").cast("long").alias("n"))


@query(
    "agg_cube",
    oracle="""
    SELECT o_orderstatus, o_orderpriority, COUNT(*)::BIGINT AS n,
           ROUND(SUM(o_totalprice), 2) AS rev
    FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
    """,
)
def agg_cube(spark, sf_dir):
    """CUBE grouping-sets aggregation (all 4 grouping combinations in
    one pass — Spark expands to a single Expand + hash agg, one
    shuffle; complements the ROLLUP coverage in agg_rollup)."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.cube("o_orderstatus", "o_orderpriority").agg(
        F.count("*").cast("long").alias("n"),
        F.round(F.sum("o_totalprice"), 2).alias("rev"),
    )


@query(
    "decontaminate_ngram",
    # n=4 at this corpus size so the differential gate sees a
    # non-trivial hit set (49 docs at sf0.01); the operator default is
    # n=8 — real decontamination runs use 8-13-gram collision.
    oracle=f"""
    WITH toks AS (SELECT doc_id, source, {_DTOKS} AS t FROM documents),
    g AS (SELECT doc_id, source, array_to_string(t[i:i+3], ' ') AS gram
          FROM toks, UNNEST(range(1, greatest(len(t)-2, 1))) AS u(i)
          WHERE len(t) >= 4),
    bench AS (SELECT DISTINCT gram FROM g WHERE source = 'src0')
    SELECT g.doc_id, COUNT(DISTINCT g.gram)::BIGINT AS shared_ngrams
    FROM g JOIN bench USING (gram)
    WHERE g.source <> 'src0'
    GROUP BY g.doc_id
    """,
)
def decontaminate_ngram(spark, sf_dir):
    """Benchmark decontamination: training docs (source <> src0)
    sharing any word 4-gram with the benchmark corpus (source = src0).
    Benchmark gram set is broadcast; the training side never
    shuffles (operators/decontaminate.py)."""
    from ..operators import decontaminate as DC

    docs = load_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("source") == "src0")
    train = docs.filter(F.col("source") != "src0")
    return DC.contaminated_docs(train, bench, n=4)




@query(
    "decontaminate_bloom",
    # Same contract as decontaminate_ngram — the Bloom prefilter is
    # exact after the verify join, so the oracle is identical.
    oracle=f"""
    WITH toks AS (SELECT doc_id, source, {_DTOKS} AS t FROM documents),
    g AS (SELECT doc_id, source, array_to_string(t[i:i+3], ' ') AS gram
          FROM toks, UNNEST(range(1, greatest(len(t)-2, 1))) AS u(i)
          WHERE len(t) >= 4),
    bench AS (SELECT DISTINCT gram FROM g WHERE source = 'src0')
    SELECT g.doc_id, COUNT(DISTINCT g.gram)::BIGINT AS shared_ngrams
    FROM g JOIN bench USING (gram)
    WHERE g.source <> 'src0'
    GROUP BY g.doc_id
    """,
)
def decontaminate_bloom(spark, sf_dir):
    """Bloom-prefiltered decontamination — the very-large-benchmark
    scale path (operators/decontaminate.py): training grams die on a
    literal-bitmap Bloom probe map-side; survivors exact-verify."""
    from ..operators import decontaminate as DC

    docs = load_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("source") == "src0")
    train = docs.filter(F.col("source") != "src0")
    return DC.bloom_contaminated_docs(train, bench, n=4)


@query(
    "decontaminate_semantic",
    # Cosine in DOUBLE as dot/(|t|·|e|) — the exact expression the
    # Arrow kernel evaluates; nearest eval vector breaks exact ties
    # toward the smallest eval id on both engines.
    oracle="""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
    e AS (SELECT vec_id AS eval_id, emb AS ev FROM v WHERE vec_id % 20 = 0),
    t AS (SELECT vec_id, emb FROM v WHERE vec_id % 20 <> 0),
    sc AS (SELECT t.vec_id, e.eval_id,
                  list_dot_product(t.emb, e.ev)
                    / (sqrt(list_dot_product(t.emb, t.emb))
                       * sqrt(list_dot_product(e.ev, e.ev))) AS cos
           FROM t CROSS JOIN e),
    best AS (SELECT vec_id, eval_id, cos,
                    ROW_NUMBER() OVER (PARTITION BY vec_id
                                       ORDER BY cos DESC, eval_id) AS rn
             FROM sc)
    SELECT vec_id, eval_id AS eval_vec_id, ROUND(cos, 4) AS cos
    FROM best WHERE rn = 1 AND cos >= 0.35
    """,
)
def decontaminate_semantic(spark, sf_dir):
    """SEMANTIC benchmark decontamination: training vectors within
    0.35 cosine of any eval vector (every 20th id = the held-out
    benchmark) — catches paraphrase leakage the n-gram scrub misses.
    Eval matrix broadcast in-closure, training side map-only Arrow
    matmul, hits-only output (operators/semantic.py
    ::semantic_contaminated)."""
    from ..operators.semantic import semantic_contaminated

    emb = load_table(spark, sf_dir, "embeddings")
    evalset = emb.filter(F.col("vec_id") % 20 == 0)
    train = emb.filter(F.col("vec_id") % 20 != 0)
    return semantic_contaminated(train, evalset, threshold=0.35)


@query(
    "text_repetition",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_DTOKS} AS t FROM documents
                  WHERE doc_id < 300),
    l AS (SELECT doc_id,
            CASE WHEN len(t) >= 2
                 THEN [array_to_string(t[i:i+1], ' ') FOR i IN range(1, len(t))]
                 ELSE [] END AS g2,
            CASE WHEN len(t) >= 3
                 THEN [array_to_string(t[i:i+2], ' ') FOR i IN range(1, len(t)-1)]
                 ELSE [] END AS g3
          FROM toks),
    tb AS (SELECT doc_id, ROUND(MAX(cnt)::DOUBLE / SUM(cnt), 4) AS topf
           FROM (SELECT doc_id, gram, COUNT(*) AS cnt
                 FROM (SELECT doc_id, unnest(g2) AS gram FROM l) GROUP BY 1, 2)
           GROUP BY doc_id)
    SELECT l.doc_id,
      CASE WHEN len(g2) > 0
           THEN ROUND(1 - len(list_distinct(g2))::DOUBLE / len(g2), 4)
           ELSE 0.0 END AS dup_bigram_frac,
      CASE WHEN len(g3) > 0
           THEN ROUND(1 - len(list_distinct(g3))::DOUBLE / len(g3), 4)
           ELSE 0.0 END AS dup_trigram_frac,
      COALESCE(tb.topf, 0.0) AS top_bigram_frac
    FROM l LEFT JOIN tb USING (doc_id)
    """,
)
def text_repetition(spark, sf_dir):
    """Gopher-style repetition filters: duplicate bigram/trigram
    fraction + top-bigram share per doc. Pure row-local Column math —
    zero shuffle at any corpus size (the oracle needs a per-doc
    groupBy for the mode; Spark computes it with a sorted-run fold
    inside the row)."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    return X.repetition_metrics(docs)


@query(
    "vocab_topk",
    oracle=f"""
    WITH tok AS (SELECT unnest({_DTOKS}) AS token FROM documents)
    SELECT token, COUNT(*)::BIGINT AS cnt
    FROM tok GROUP BY token
    ORDER BY cnt DESC, token LIMIT 50
    """,
)
def vocab_topk(spark, sf_dir):
    """Corpus vocabulary building: top-50 tokens by occurrence.
    explode -> partial-agged groupBy -> TakeOrderedAndProject (no
    global sort materializes)."""
    return X.vocab_topk(load_table(spark, sf_dir, "documents"), k=50)


@query(
    "corpus_stats",
    oracle="""
    SELECT lang, COUNT(*)::BIGINT AS n_docs,
           COUNT(DISTINCT source)::BIGINT AS n_sources,
           ROUND(quantile_cont(n_chars, 0.5), 2) AS p50_chars,
           ROUND(quantile_cont(n_chars, 0.9), 2) AS p90_chars
    FROM documents GROUP BY lang
    """,
)
def corpus_stats(spark, sf_dir):
    """Per-language corpus profile: counts, distinct sources, exact
    p50/p90 doc length (swap percentile -> approx_percentile and
    count_distinct -> approx_count_distinct for the 100 TB run; plan
    shape unchanged)."""
    return X.corpus_stats_by(load_table(spark, sf_dir, "documents"))


@query(
    "text_pii_redact",
    oracle="""
    WITH r AS (SELECT source,
                      len(regexp_extract_all(text,
                        '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}')) AS n_email,
                      len(regexp_extract_all(text,
                        '\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b')) AS n_phone,
                      length(regexp_replace(
                        regexp_replace(text,
                          '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}',
                          '<EMAIL>', 'g'),
                        '\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b', '<PHONE>', 'g')) AS redacted_len
               FROM documents)
    SELECT source, SUM(n_email)::BIGINT AS emails,
           SUM(n_phone)::BIGINT AS phones,
           SUM(redacted_len)::BIGINT AS total_len
    FROM r GROUP BY source
    """,
)
def text_pii_redact(spark, sf_dir):
    """PII scrub accounting per source: email/phone hits + redacted
    text length (the synthetic corpus is PII-free, so counts are 0 and
    length equals the original — the REGEXES are value-tested on
    constructed rows in tests/test_operators.py)."""
    from ..functions.text import redact_pii

    docs = load_table(spark, sf_dir, "documents")
    red = docs.select(
        "source",
        F.regexp_count(F.col("text"), F.lit(r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}")).alias("n_email"),
        F.regexp_count(F.col("text"), F.lit(r"\b\d{3}[-.]\d{3}[-.]\d{4}\b")).alias("n_phone"),
        F.length(redact_pii(F.col("text"))).alias("redacted_len"),
    )
    return red.groupBy("source").agg(
        F.sum("n_email").cast("long").alias("emails"),
        F.sum("n_phone").cast("long").alias("phones"),
        F.sum("redacted_len").cast("long").alias("total_len"),
    )


# ---------------------------------------------------------------------------
# substring-level duplication (ExactSubstr family)
# ---------------------------------------------------------------------------


@query(
    "dedup_substring_stats",
    # w=6 at this corpus size so the gate sees a dense, non-trivial
    # profile; the operator default is 8 (real ExactSubstr runs use
    # ~50-token spans, i.e. larger windows over longer documents).
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_DTOKS} AS t FROM documents),
    w AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+5], ' ') AS gram
          FROM toks, UNNEST(range(1, greatest(len(t)-4, 1))) AS u(i)
          WHERE len(t) >= 6),
    c AS (SELECT gram, COUNT(*) AS nd FROM w GROUP BY gram)
    SELECT w.doc_id,
           COUNT(*)::BIGINT AS n_win,
           SUM(CASE WHEN c.nd >= 2 THEN 1 ELSE 0 END)::BIGINT AS dup_win,
           ROUND(SUM(CASE WHEN c.nd >= 2 THEN 1 ELSE 0 END)::DOUBLE
                 / COUNT(*), 4) AS dup_frac
    FROM w JOIN c USING (gram)
    GROUP BY w.doc_id
    """,
)
def dedup_substring_stats(spark, sf_dir):
    """ExactSubstr-style duplicated-window profile (Lee et al. 2022):
    per-doc fraction of distinct 6-token windows that also occur in
    another document. One hash-partitioned window count + one per-doc
    rollup — no joins of the occurrence stream
    (operators/substrings.py)."""
    from ..operators import substrings as SS

    docs = load_table(spark, sf_dir, "documents")
    return SS.window_dup_stats(docs, w=6)


@query(
    "dedup_substring_drop",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_DTOKS} AS t FROM documents),
    w AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+5], ' ') AS gram
          FROM toks, UNNEST(range(1, greatest(len(t)-4, 1))) AS u(i)
          WHERE len(t) >= 6),
    c AS (SELECT gram, COUNT(*) AS nd FROM w GROUP BY gram),
    f AS (SELECT w.doc_id,
                 SUM(CASE WHEN c.nd >= 2 THEN 1 ELSE 0 END)::DOUBLE
                   / COUNT(*) AS dup_frac
          FROM w JOIN c USING (gram) GROUP BY w.doc_id)
    SELECT d.source, COUNT(*)::BIGINT AS kept
    FROM documents d
    WHERE d.doc_id NOT IN (SELECT doc_id FROM f WHERE dup_frac > 0.6)
    GROUP BY d.source
    """,
)
def dedup_substring_drop(spark, sf_dir):
    """The ExactSubstr ACTION: drop documents whose duplicated-window
    fraction exceeds 0.6, report survivors per source. Short docs
    (< w tokens) carry no windows and are kept."""
    from ..operators import substrings as SS

    docs = load_table(spark, sf_dir, "documents")
    kept = SS.drop_duplicated_docs(docs, w=6, max_dup_fraction=0.6)
    return kept.groupBy("source").agg(F.count("*").cast("long").alias("kept"))


# ---------------------------------------------------------------------------
# quality-quantile filtering + deterministic training order
# ---------------------------------------------------------------------------


@query(
    "doc_quality_filter",
    # same quality formula as text_quality's oracle, then an exact
    # per-source percent rank (ties broken by doc_id => deterministic)
    oracle=f"""
    WITH t AS (SELECT doc_id, source, text, {_DTOKS} AS toks FROM documents),
    m AS (SELECT doc_id, source,
                 len(toks) AS ntok,
                 CASE WHEN length(text) > 0
                      THEN length(regexp_replace(text, '[^a-zA-Z ]', '', 'g'))::DOUBLE
                           / length(text)
                      ELSE 0.0 END AS alpha_ratio,
                 CASE WHEN len(toks) > 0
                      THEN len(list_filter(toks, x -> list_contains(
                             ['the','a','of','and','to','in','is','it'], x)))::DOUBLE
                           / len(toks)
                      ELSE 0.0 END AS stop_ratio
          FROM t),
    s AS (SELECT doc_id, source,
                 ROUND(0.5 * least(ntok / 50.0, 1.0)
                       + 0.3 * alpha_ratio
                       + 0.2 * least(stop_ratio * 5, 1.0), 4) AS q
          FROM m),
    r AS (SELECT doc_id, source, q,
                 PERCENT_RANK() OVER (PARTITION BY source
                                      ORDER BY q, doc_id) AS pr
          FROM s)
    SELECT doc_id, source, q, ROUND(pr, 4) AS pr
    FROM r WHERE pr >= 0.25
    """,
)
def doc_quality_filter(spark, sf_dir):
    """Per-domain quality-quantile gate: drop each source's bottom
    quartile by heuristic quality score, exact percent-rank form.
    The approximate broadcast-threshold twin (the corpus-never-
    shuffles 100 TB path) is operators/sampling.py
    quality_threshold_filter, agreement-tested in
    tests/test_operators.py."""
    from ..functions import text as T
    from ..operators import sampling as SP

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", T.quality_score(F.col("text")).alias("q")
    )
    ranked = SP.quality_percent_rank(docs, score_col="q", by="source")
    return ranked.filter(F.col("pr") >= 0.25).select(
        "doc_id", "source", "q", F.round("pr", 4).alias("pr")
    )


@query(
    "doc_training_order",
    oracle="""
    WITH k AS (SELECT doc_id, md5('42:' || doc_id::VARCHAR) AS k
               FROM documents),
    s AS (SELECT doc_id, k,
                 (('0x' || substr(k, 1, 4))::INT % 8) AS shard
          FROM k)
    SELECT doc_id, shard,
           ROW_NUMBER() OVER (PARTITION BY shard ORDER BY k, doc_id)::BIGINT AS pos
    FROM s
    """,
)
def doc_training_order(spark, sf_dir):
    """Deterministic global training shuffle: every doc gets a
    (shard, pos) slot from md5(seed:id) — reproducible on any engine,
    independent permutation per seed (operators/sampling.py
    training_order)."""
    from ..operators import sampling as SP

    docs = load_table(spark, sf_dir, "documents")
    return SP.training_order(docs, num_shards=8, seed="42")


# ---------------------------------------------------------------------------
# corpus search (operators/search.py)
# ---------------------------------------------------------------------------


@query(
    "search_phrase",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_DTOKS} AS t FROM documents),
    g AS (SELECT doc_id, array_to_string(t[i:i+2], ' ') AS gram
          FROM toks, UNNEST(range(1, greatest(len(t)-1, 1))) AS u(i)
          WHERE len(t) >= 3)
    SELECT doc_id, COUNT(*)::INT AS n_hits
    FROM g WHERE gram = 'slow hash batch'
    GROUP BY doc_id
    """,
)
def search_phrase(spark, sf_dir):
    """Exact token-phrase lookup with occurrence counts — row-local
    gram fold, zero shuffle until the hit filter
    (operators/search.py phrase_occurrences)."""
    from ..operators import search as SE

    docs = load_table(spark, sf_dir, "documents")
    return SE.phrase_occurrences(docs, "slow hash batch")


@query(
    "search_phrase_positional",
    # positional formulation of the SAME phrase as search_phrase: the
    # oracle intersects per-term position lists shifted to a common
    # anchor — structurally independent of the gram-fold oracle above,
    # yet both must (and do) produce identical rows.
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_DTOKS} AS t FROM documents),
    p AS (SELECT doc_id, u.tok, u.pos
          FROM toks, LATERAL (SELECT unnest(t) AS tok,
                                     generate_subscripts(t, 1) AS pos) u
          WHERE u.tok IN ('slow', 'hash', 'batch')),
    a AS (SELECT p0.doc_id, p0.pos AS anchor
          FROM (SELECT doc_id, pos FROM p WHERE tok = 'slow') p0
          JOIN (SELECT doc_id, pos FROM p WHERE tok = 'hash') p1
            ON p0.doc_id = p1.doc_id AND p1.pos = p0.pos + 1
          JOIN (SELECT doc_id, pos FROM p WHERE tok = 'batch') p2
            ON p0.doc_id = p2.doc_id AND p2.pos = p0.pos + 2)
    SELECT doc_id, COUNT(*)::BIGINT AS n_hits FROM a GROUP BY doc_id
    """,
)
def search_phrase_positional(spark, sf_dir):
    """Exact phrase via positional-posting adjacency joins
    (operators/search.py phrase_search_positional): map-side vocabulary
    filter, (doc_id, anchor)-keyed skew-free joins, generalizes to
    NEAR/k — the index-backed phrase path of a classic IR engine."""
    from ..operators import search as SE

    docs = load_table(spark, sf_dir, "documents")
    return SE.phrase_search_positional(docs, "slow hash batch")


@query(
    "search_ranked",
    oracle="""
    WITH toks AS (SELECT doc_id,
                         list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                                     x -> x <> '') AS t
                  FROM documents),
    q AS (SELECT doc_id, unnest(t) AS term FROM toks),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM q
           WHERE term IN ('window', 'shuffle', 'broadcast') GROUP BY doc_id, term),
    df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
    n AS (SELECT COUNT(*) AS n_docs FROM documents)
    SELECT doc_id, n_terms, score FROM (
      SELECT tf.doc_id,
             COUNT(*)::BIGINT AS n_terms,
             ROUND(SUM(tf.tf * ln(n.n_docs / df.df)), 4) AS score,
             ROW_NUMBER() OVER (ORDER BY SUM(tf.tf * ln(n.n_docs / df.df)) DESC,
                                tf.doc_id) AS rk
      FROM tf JOIN df USING (term) CROSS JOIN n
      GROUP BY tf.doc_id
    ) WHERE rk <= 20
    """,
)
def search_ranked(spark, sf_dir):
    """Ranked keyword retrieval: top-20 docs by summed TF-IDF over the
    query vocabulary; the token stream is cut to the query terms
    map-side before any shuffle (operators/search.py
    keyword_search_ranked)."""
    from ..operators import search as SE

    docs = load_table(spark, sf_dir, "documents")
    return SE.keyword_search_ranked(docs, ["window", "shuffle", "broadcast"], k=20)


@query(
    "corpus_snapshot_diff",
    # two deterministic snapshots derived from one table: old drops
    # doc_id % 13 == 0, new drops % 10 == 0 and rewrites % 7 == 0
    oracle="""
    WITH old AS (SELECT doc_id, text FROM documents WHERE doc_id % 13 <> 0),
    new AS (SELECT doc_id,
                   CASE WHEN doc_id % 7 = 0 THEN text || ' v2' ELSE text END AS text
            FROM documents WHERE doc_id % 10 <> 0)
    SELECT COALESCE(old.doc_id, new.doc_id) AS doc_id,
           CASE WHEN old.doc_id IS NULL THEN 'added'
                WHEN new.doc_id IS NULL THEN 'removed'
                WHEN md5(old.text) <> md5(new.text) THEN 'changed'
           END AS status
    FROM old FULL OUTER JOIN new USING (doc_id)
    WHERE (old.doc_id IS NULL OR new.doc_id IS NULL
           OR md5(old.text) <> md5(new.text))
    """,
)
def corpus_snapshot_diff(spark, sf_dir):
    """Data-diff between two corpus snapshots (the reference's diff
    discipline applied to DATA, not schemas): added/removed/changed
    docs by content fingerprint; the join carries 32-byte hashes, not
    text, and unchanged rows never leave the join
    (operators/corpus_diff.py)."""
    from ..operators import corpus_diff as CD

    docs = load_table(spark, sf_dir, "documents")
    old = docs.filter(F.col("doc_id") % 13 != 0)
    new = docs.filter(F.col("doc_id") % 10 != 0).withColumn(
        "text",
        F.when(F.col("doc_id") % 7 == 0, F.concat(F.col("text"), F.lit(" v2")))
         .otherwise(F.col("text")),
    )
    return CD.snapshot_diff(old, new)


@query(
    "doc_lm_score",
    oracle="""
    WITH toks AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                           x -> x <> '') AS ts
        FROM documents
    ),
    tt AS (
        SELECT doc_id, unnest(ts) AS w, generate_subscripts(ts, 1) AS pos
        FROM toks WHERE len(ts) >= 2
    ),
    bi AS (
        SELECT doc_id, lag(w) OVER (PARTITION BY doc_id ORDER BY pos) AS w1,
               w AS w2
        FROM tt QUALIFY w1 IS NOT NULL
    ),
    cnt AS (SELECT w1, w2, COUNT(*)::DOUBLE AS c FROM bi GROUP BY w1, w2),
    ctx AS (SELECT w1, SUM(c) AS cw FROM cnt GROUP BY w1),
    vocab AS (SELECT COUNT(DISTINCT w)::DOUBLE AS v FROM tt)
    SELECT b.doc_id, COUNT(*) AS n_bigrams,
           ROUND(AVG(-ln((c + 0.5) / (cw + 0.5 * v))), 4) AS avg_nll
    FROM bi b JOIN cnt USING (w1, w2) JOIN ctx USING (w1) CROSS JOIN vocab
    GROUP BY b.doc_id ORDER BY b.doc_id
    """,
)
def doc_lm_score(spark, sf_dir):
    """N-gram LM quality gate (CCNet/KenLM shape): per-document average
    negative log-likelihood under an add-k bigram model trained on the
    corpus itself — high avg_nll flags gibberish/boilerplate for the
    quality filter (operators/lm_score.py). Bigram construction is
    row-local; the model is two algebraic aggregations; scoring
    re-joins on the same (w1, w2) partitioning."""
    from ..operators import lm_score as LM

    return LM.lm_score(load_table(spark, sf_dir, "documents")).orderBy("doc_id")


@query(
    "search_hybrid_rrf",
    oracle="""
    WITH toks AS (SELECT doc_id,
                         list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                                     x -> x <> '') AS t
                  FROM documents),
    q AS (SELECT doc_id, unnest(t) AS term FROM toks),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM q
           WHERE term IN ('window', 'shuffle', 'broadcast') GROUP BY doc_id, term),
    dfq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    kws AS (SELECT tf.doc_id, ROUND(SUM(tf.tf * ln(n.n_docs / dfq.df)), 4) AS s
            FROM tf JOIN dfq USING (term) CROSS JOIN n GROUP BY tf.doc_id),
    kw AS (SELECT doc_id, ROW_NUMBER() OVER (ORDER BY s DESC, doc_id) AS kw_rank
           FROM kws QUALIFY kw_rank <= 50),
    qv AS (SELECT embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id = 7),
    vs AS (SELECT vec_id AS doc_id,
                  ROUND(list_dot_product(embedding::DOUBLE[], qv.v)
                        / (sqrt(list_dot_product(embedding::DOUBLE[],
                                                 embedding::DOUBLE[]))
                           * sqrt(list_dot_product(qv.v, qv.v))), 4) AS cos
           FROM embeddings CROSS JOIN qv),
    vec AS (SELECT doc_id, ROW_NUMBER() OVER (ORDER BY cos DESC, doc_id) AS vec_rank
            FROM vs QUALIFY vec_rank <= 50),
    fused AS (
        SELECT COALESCE(kw.doc_id, vec.doc_id) AS doc_id, kw_rank, vec_rank,
               ROUND(COALESCE(1.0 / (60 + kw_rank), 0)
                     + COALESCE(1.0 / (60 + vec_rank), 0), 6) AS rrf
        FROM kw FULL OUTER JOIN vec ON kw.doc_id = vec.doc_id)
    SELECT doc_id, kw_rank, vec_rank, rrf FROM fused
    ORDER BY rrf DESC, doc_id LIMIT 10
    """,
)
def search_hybrid_rrf(spark, sf_dir):
    """Hybrid retrieval: Reciprocal Rank Fusion of the keyword top-50
    (summed TF-IDF) and the vector top-50 (cosine to embedding #7) —
    rank-based fusion needs no score calibration; both arms end in
    TakeOrderedAndProject so the fusion join is 2m rows at any corpus
    size (operators/search.py::hybrid_search_rrf)."""
    from ..operators import search as SE

    return SE.hybrid_search_rrf(
        load_table(spark, sf_dir, "documents"),
        load_table(spark, sf_dir, "embeddings"),
        ["window", "shuffle", "broadcast"],
        query_vec_id=7,
        k=10,
        m=50,
    )


@query(
    "text_collocations",
    oracle="""
    WITH toks AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                           x -> x <> '') AS ts
        FROM documents
    ),
    tt AS (
        SELECT doc_id, unnest(ts) AS w, generate_subscripts(ts, 1) AS pos
        FROM toks WHERE len(ts) >= 2
    ),
    bi AS (
        SELECT doc_id, lag(w) OVER (PARTITION BY doc_id ORDER BY pos) AS w1,
               w AS w2
        FROM tt QUALIFY w1 IS NOT NULL
    ),
    cnt AS (SELECT w1, w2, COUNT(*)::DOUBLE AS c FROM bi GROUP BY w1, w2),
    l AS (SELECT w1, SUM(c) AS c1 FROM cnt GROUP BY w1),
    r AS (SELECT w2, SUM(c) AS c2 FROM cnt GROUP BY w2),
    n AS (SELECT SUM(c) AS n FROM cnt)
    SELECT w1, w2, CAST(c AS BIGINT) AS pair_count,
           ROUND(ln(n.n * c / (c1 * c2)), 4) AS pmi
    FROM cnt JOIN l USING (w1) JOIN r USING (w2) CROSS JOIN n
    WHERE c >= 5
    ORDER BY pmi DESC, w1, w2 LIMIT 30
    """,
)
def text_collocations(spark, sf_dir):
    """Top-30 collocations by pointwise mutual information over the
    corpus bigram stream (min pair count 5) — the multi-word-expression
    miner run before tokenizer training (operators/lm_score.py
    top_collocations; marginals aggregate the collapsed count table,
    nothing rescans the corpus)."""
    from ..operators.lm_score import top_collocations

    return top_collocations(load_table(spark, sf_dir, "documents"), k=30)


@query(
    "dedup_containment",
    # id-bounded exact form (same discipline as dedup_embedding_cosine):
    # the scale path reuses the MinHash/LSH candidates with containment
    # verify instead of Jaccard
    oracle="""
    WITH d AS (SELECT doc_id,
                      list_distinct(list_filter(
                          string_split_regex(lower(trim(text)), '\\s+'),
                          x -> x <> '')) AS toks
               FROM documents WHERE doc_id <= 300),
    p AS (SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
                 len(list_intersect(a.toks, b.toks))::DOUBLE
                   / LEAST(len(a.toks), len(b.toks)) AS containment
          FROM d a JOIN d b ON a.doc_id < b.doc_id
          WHERE len(a.toks) > 0 AND len(b.toks) > 0)
    SELECT doc_id_a, doc_id_b, ROUND(containment, 4) AS containment
    FROM p WHERE containment >= 0.9
    """,
)
def dedup_containment(spark, sf_dir):
    """Containment near-dup: pairs where the SMALLER token set is >=90%
    inside the other — catches quotes/excerpts/supersets that Jaccard
    misses when lengths differ (|A∩B|/min vs |A∩B|/|A∪B|). Exact over
    the id<=300 slice; at scale the MinHash band join supplies the
    candidates and this containment check replaces the Jaccard verify
    (one array_intersect per candidate, same cost)."""
    from ..functions import text as T

    d = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") <= 300)
        .select("doc_id", T.distinct_tokens(F.col("text")).alias("toks"))
        .filter(F.size("toks") > 0)
    )
    a = d.select(F.col("doc_id").alias("doc_id_a"), F.col("toks").alias("ta"))
    b = d.select(F.col("doc_id").alias("doc_id_b"), F.col("toks").alias("tb"))
    cont = F.size(F.array_intersect("ta", "tb")).cast("double") / F.least(
        F.size("ta"), F.size("tb")
    )
    return (
        a.hint("shuffle_hash")
        .join(b, F.col("doc_id_a") < F.col("doc_id_b"))
        .select(
            "doc_id_a", "doc_id_b", F.round(cont, 4).alias("containment")
        )
        .filter(F.col("containment") >= 0.9)
    )


# ---------------------------------------------------------------------------
# round-3 third wave: cluster selection, corpus overlap, NB classifier,
# skew profiling
# ---------------------------------------------------------------------------


@query(
    "dedup_keep_best",
    # reachability-closure components (as dedup_cluster_assign), then
    # the best member per cluster by (distinct-token count DESC, id ASC);
    # singletons are their own cluster
    oracle=f"""
    WITH RECURSIVE
    d AS (SELECT doc_id, {_DSET} AS toks FROM documents WHERE doc_id <= 200),
    p AS (SELECT a.doc_id AS a, b.doc_id AS b
          FROM d a JOIN d b ON a.doc_id < b.doc_id
          WHERE len(list_intersect(a.toks, b.toks))::DOUBLE
                / len(list_distinct(list_concat(a.toks, b.toks))) >= 0.8),
    e AS (SELECT a AS s, b AS dd FROM p UNION SELECT b, a FROM p),
    reach(id, comp) AS (
        SELECT s, s FROM e
        UNION
        SELECT e.s, r.comp FROM e JOIN reach r ON e.dd = r.id
    ),
    comp AS (SELECT id AS doc_id, MIN(comp) AS cluster_id FROM reach GROUP BY id),
    allc AS (SELECT d.doc_id, COALESCE(c.cluster_id, d.doc_id)::BIGINT AS cluster_id,
                    len(d.toks) AS nq
             FROM d LEFT JOIN comp c USING (doc_id)),
    r AS (SELECT cluster_id, doc_id, nq,
                 ROW_NUMBER() OVER (PARTITION BY cluster_id
                                    ORDER BY nq DESC, doc_id) AS rn,
                 COUNT(*) OVER (PARTITION BY cluster_id) AS n_members
          FROM allc)
    SELECT cluster_id, doc_id::BIGINT AS kept_doc_id, n_members
    FROM r WHERE rn = 1
    """,
)
def dedup_keep_best(spark, sf_dir):
    """Canonical-document selection per near-dup cluster: quality =
    distinct-token count (a stand-in for any scorer — textstats
    quality, LM score), max wins, id breaks ties."""
    from ..functions import text as T

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") <= 200)
    return D.keep_best_per_cluster(
        docs,
        D.jaccard_pairs(docs, threshold=0.8),
        quality=F.size(T.distinct_tokens(F.col("text"))),
    )


def _overlap_oracle(num_perm: int = 64) -> str:
    """Oracle twin of corpus_diff.source_overlap_minhash: same md5 base
    hash, same (A[i]*h + B[i]) mod M schedule, inlined as literals."""
    from ..operators.corpus_diff import OVERLAP_AB, OVERLAP_M

    perms = " UNION ALL ".join(
        f"SELECT {i} AS i, {a}::BIGINT AS a, {b}::BIGINT AS b"
        for i, (a, b) in enumerate(OVERLAP_AB[:num_perm])
    )
    return f"""
    WITH t AS (SELECT DISTINCT source AS grp, unnest({_DSET}) AS tok
               FROM documents),
    perms AS ({perms}),
    h AS (SELECT grp, i,
                 MIN((a * (('0x' || substr(md5(tok), 1, 15))::BIGINT % {OVERLAP_M})
                      + b) % {OVERLAP_M}) AS mh
          FROM t CROSS JOIN perms GROUP BY grp, i),
    m AS (SELECT x.grp AS src_a, y.grp AS src_b,
                 COUNT(*) FILTER (WHERE x.mh = y.mh) AS matches
          FROM h x JOIN h y ON x.i = y.i AND x.grp < y.grp
          GROUP BY 1, 2)
    SELECT src_a, src_b, matches,
           ROUND(matches / {num_perm}.0, 4) AS est_jaccard
    FROM m
    """


@query("corpus_overlap_minhash", oracle=_overlap_oracle())
def corpus_overlap_minhash(spark, sf_dir):
    """Slice-level overlap matrix: estimated token-set Jaccard between
    every pair of sources from 64-slot MinHash signatures — the
    "how much does crawl B repeat crawl A" dataset-composition table.
    One pass + one signature-sized join; integer-exact across engines."""
    from ..operators.corpus_diff import source_overlap_minhash

    return source_overlap_minhash(load_table(spark, sf_dir, "documents"))


@query(
    "doc_nb_classify",
    # multinomial NB with add-1 smoothing; train = doc_id % 5 != 0
    # (labels = lang), score the held-out fifth; OOV test tokens ignored
    oracle=f"""
    WITH train AS (SELECT lang, doc_id, {_DTOKS} AS toks
                   FROM documents WHERE doc_id % 5 <> 0),
    test AS (SELECT doc_id, {_DTOKS} AS toks FROM documents WHERE doc_id % 5 = 0),
    occ AS (SELECT lang, unnest(toks) AS tok FROM train),
    cnt AS (SELECT lang, tok, COUNT(*) AS c FROM occ GROUP BY lang, tok),
    ctot AS (SELECT lang, COUNT(*) AS n_tok FROM occ GROUP BY lang),
    vocab AS (SELECT DISTINCT tok FROM occ),
    vs AS (SELECT COUNT(*) AS v FROM vocab),
    prior AS (SELECT lang, ln(COUNT(*)::DOUBLE / (SELECT COUNT(*) FROM train))
                     AS logprior
              FROM train GROUP BY lang),
    model AS (SELECT ct.lang, vb.tok,
                     ln((COALESCE(c.c, 0) + 1)::DOUBLE / (ct.n_tok + vs.v)) AS logp
              FROM ctot ct CROSS JOIN vocab vb CROSS JOIN vs
              LEFT JOIN cnt c ON c.lang = ct.lang AND c.tok = vb.tok),
    tocc AS (SELECT doc_id, unnest(toks) AS tok FROM test),
    sc AS (SELECT t.doc_id, m.lang,
                  ANY_VALUE(p.logprior) + SUM(m.logp) AS score
           FROM tocc t JOIN model m USING (tok) JOIN prior p ON p.lang = m.lang
           GROUP BY t.doc_id, m.lang),
    r AS (SELECT doc_id, lang, score,
                 ROW_NUMBER() OVER (PARTITION BY doc_id
                                    ORDER BY score DESC, lang) AS rn
          FROM sc)
    SELECT doc_id, lang AS pred_label, ROUND(score, 3) AS score
    FROM r WHERE rn = 1
    """,
)
def doc_nb_classify(spark, sf_dir):
    """Domain/language classification — multinomial Naive Bayes
    trained on the hash-split 4/5 of the corpus, scoring the held-out
    fifth. Training is two aggregations; scoring is a broadcast join +
    one per-doc aggregation (operators/nbayes.py)."""
    from ..operators import nbayes as NB

    docs = load_table(spark, sf_dir, "documents")
    train = docs.filter(F.col("doc_id") % 5 != 0)
    test = docs.filter(F.col("doc_id") % 5 == 0)
    return NB.nb_score(test, NB.nb_model(train))


@query(
    "profile_key_skew",
    oracle="""
    WITH c AS (SELECT COALESCE(l_suppkey::VARCHAR, 'NULL') AS key,
                      COUNT(*) AS cnt
               FROM lineitem GROUP BY 1),
    t AS (SELECT SUM(cnt) AS total_rows, COUNT(*) AS n_keys FROM c)
    SELECT key, cnt, ROUND(cnt / total_rows, 6) AS share,
           ROUND(cnt * n_keys / total_rows, 4) AS skew_ratio
    FROM c CROSS JOIN t
    ORDER BY cnt DESC, key ASC LIMIT 20
    """,
)
def profile_key_skew(spark, sf_dir):
    """Join-key skew diagnostic: the 20 hottest l_suppkey values with
    share and skew ratio — the pre-shuffle check that decides between
    plain join / AQE / salted_join (operators/profile.py)."""
    from ..operators.profile import key_skew_profile

    return key_skew_profile(load_table(spark, sf_dir, "lineitem"), "l_suppkey")


@query(
    "profile_drift_psi",
    # ε floor and the (slice × global-bin-union) grid exactly as the
    # operator computes them; bins empty on both sides contribute 0.
    oracle="""
    WITH b AS (SELECT source AS grp, FLOOR(n_chars / 50) AS bin
               FROM documents),
    c AS (SELECT grp, bin, COUNT(*)::DOUBLE AS n FROM b GROUP BY grp, bin),
    t AS (SELECT grp, SUM(n) AS tot FROM c GROUP BY grp),
    f AS (SELECT c.grp, c.bin, c.n / t.tot AS p FROM c JOIN t USING (grp)),
    base AS (SELECT bin, p AS q FROM f WHERE grp = 'src0'),
    grid AS (SELECT g.grp, bb.bin
             FROM (SELECT DISTINCT grp FROM f WHERE grp <> 'src0') g
             CROSS JOIN (SELECT DISTINCT bin FROM b) bb),
    j AS (SELECT grid.grp,
                 COALESCE(f.p, 0) + 1e-6 AS p,
                 COALESCE(base.q, 0) + 1e-6 AS q
          FROM grid
          LEFT JOIN f ON f.grp = grid.grp AND f.bin = grid.bin
          LEFT JOIN base ON base.bin = grid.bin)
    SELECT grp AS source, ROUND(SUM((p - q) * LN(p / q)), 4) AS psi
    FROM j GROUP BY grp
    """,
)
def profile_drift_psi(spark, sf_dir):
    """Ingestion drift monitor: Population Stability Index of the
    doc-length distribution for every source vs the src0 baseline
    (operators/profile.py::distribution_psi). One (slice, bin)-keyed
    partial+final aggregate — per-batch cost is histogram-sized at
    any corpus size; alert at the 0.25 convention line."""
    from ..operators.profile import distribution_psi

    return distribution_psi(
        load_table(spark, sf_dir, "documents"),
        value_col="n_chars",
        group_col="source",
        baseline="src0",
        bin_width=50,
    )


@query(
    "multimodal_exact_dedup",
    # The only multimodal query with a cross-engine oracle: bytes are
    # derived from documents.text (UTF-8) so DuckDB can rebuild the
    # binary column; the operator itself takes ANY binary column
    # (binaryFile-ingested images included, operators/multimodal.py).
    oracle="""
    SELECT md5(text) AS fingerprint, COUNT(*)::BIGINT AS n_copies,
           MIN(doc_id) AS canonical_id
    FROM documents GROUP BY md5(text)
    """,
)
def multimodal_exact_dedup(spark, sf_dir):
    """Byte-identical media dedup over an opaque binary column
    (operators/multimodal.py::exact_media_dedup). min_copies=1 keeps
    the full fingerprint inventory so the cross-engine check pins
    binary md5 parity on EVERY blob, not just the (scale-dependent)
    duplicate groups; production ingest runs the min_copies=2 form."""
    from ..operators.multimodal import exact_media_dedup

    media = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "UTF-8").alias("content")
    )
    return exact_media_dedup(
        media, content_col="content", id_col="doc_id", min_copies=1
    )


@query(
    "corpus_entropy",
    # SUM casts pinned to BIGINT (DuckDB SUM(BIGINT) widens to HUGEINT)
    oracle=f"""
    WITH tok AS (SELECT source AS grp, unnest({_DTOKS}) AS tok FROM documents),
    c AS (SELECT grp, tok, COUNT(*) AS c FROM tok GROUP BY grp, tok),
    a AS (SELECT grp, SUM(c)::BIGINT AS n_tokens, COUNT(*) AS vocab,
                 SUM(c * ln(c)) AS clogc
          FROM c GROUP BY grp)
    SELECT grp AS source, n_tokens, vocab,
           ROUND((ln(n_tokens) - clogc / n_tokens) / ln(2), 4) AS entropy_bits,
           ROUND(vocab / n_tokens, 6) AS type_token_ratio
    FROM a
    """,
)
def corpus_entropy(spark, sf_dir):
    """Per-source lexical diversity: unigram Shannon entropy, vocab
    size, type-token ratio (operators/textstats.corpus_entropy_by) —
    the collapsing-entropy = template-spam detector a corpus dashboard
    tracks per crawl. Two mergeable aggregations, zero extra passes."""
    return X.corpus_entropy_by(load_table(spark, sf_dir, "documents"))


@query(
    "text_boilerplate",
    oracle=f"""
    WITH d AS (SELECT source, doc_id, {_DTOKS} AS t FROM documents),
    g AS (SELECT source, doc_id, unnest(list_distinct(
            CASE WHEN len(t) >= 2
                 THEN [array_to_string(t[i:i+1], ' ') for i in range(1, len(t))]
                 ELSE [array_to_string(t, ' ')] END)) AS gram FROM d),
    c AS (SELECT source, gram, COUNT(*) AS df FROM g GROUP BY source, gram),
    nn AS (SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source)
    SELECT c.source, gram, df, ROUND(df / n_docs, 4) AS doc_frac
    FROM c JOIN nn USING (source)
    WHERE df >= n_docs * 0.2
    """,
)
def text_boilerplate(spark, sf_dir):
    """Cross-document boilerplate detection: word bigrams present in
    >=20% of a source's documents (operators/textstats.
    boilerplate_ngrams) — the nav-chrome/footer/template finder; the
    removal step is a broadcast anti-join of this table."""
    return X.boilerplate_ngrams(
        load_table(spark, sf_dir, "documents"), n=2, min_doc_frac=0.2
    )


@query(
    "split_leakage_guard",
    oracle=f"""
    WITH d AS (SELECT doc_id, {_DSET} AS toks FROM documents WHERE doc_id <= 200),
    p AS (SELECT a.doc_id AS a, b.doc_id AS b
          FROM d a JOIN d b ON a.doc_id < b.doc_id
          WHERE len(list_intersect(a.toks, b.toks))::DOUBLE
                / len(list_distinct(list_concat(a.toks, b.toks))) >= 0.8),
    u AS (SELECT a AS t, b AS o FROM p UNION ALL SELECT b, a FROM p),
    leaky AS (SELECT DISTINCT t FROM u
              WHERE ('0x' || substr(md5(t::VARCHAR), 1, 4))::INT >= 13107
                AND ('0x' || substr(md5(o::VARCHAR), 1, 4))::INT < 13107)
    SELECT doc_id,
           CASE WHEN ('0x' || substr(md5(doc_id::VARCHAR), 1, 4))::INT < 13107
                THEN 'eval'
                WHEN doc_id IN (SELECT t FROM leaky) THEN 'dropped'
                ELSE 'train' END AS role
    FROM d
    """,
)
def split_leakage_guard(spark, sf_dir):
    """Train/eval split with near-dup leakage guard
    (operators/sampling.split_with_leakage_guard): eval = stable md5
    bucket, train docs near-duplicating any eval doc are dropped.
    Bounded exact-Jaccard pair form here; MinHash-LSH supplies the
    pairs at scale (same surface)."""
    from ..operators.sampling import split_with_leakage_guard

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") <= 200)
    return split_with_leakage_guard(
        docs, D.jaccard_pairs(docs, threshold=0.8), eval_rate=0.2
    )


@query(
    "dedup_threshold_sweep",
    # pair-similarity histogram >= 0.5 in 0.05 bins: both engines floor
    # IDENTICAL doubles (same integer set sizes -> same IEEE division),
    # so bin membership is engine-stable
    oracle=f"""
    WITH d AS (SELECT doc_id, {_DSET} AS toks FROM documents WHERE doc_id <= 300),
    p AS (SELECT len(list_intersect(a.toks, b.toks))::DOUBLE
                 / len(list_distinct(list_concat(a.toks, b.toks))) AS jac
          FROM d a JOIN d b ON a.doc_id < b.doc_id
          WHERE len(a.toks) > 0 AND len(b.toks) > 0)
    SELECT ROUND(FLOOR(jac * 20) / 20, 2) AS jac_bin, COUNT(*) AS n_pairs
    FROM p WHERE jac >= 0.5
    GROUP BY 1
    """,
)
def dedup_threshold_sweep(spark, sf_dir):
    """Threshold-sensitivity curve for near-dup dedup: pair counts per
    0.05 Jaccard bin above 0.5 — the one-pass report that turns 'pick
    0.8 or 0.9?' into a measured decision (how many pairs appear or
    vanish per notch). Bounded exact form; at scale the SAME histogram
    aggregates over MinHash-verified candidate pairs, since every pair
    above the lowest bin is an LSH candidate at that operating point."""
    from ..functions import text as T

    d = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") <= 300)
        .select("doc_id", T.distinct_tokens(F.col("text")).alias("toks"))
        .filter(F.size("toks") > 0)
    )
    a = d.select(F.col("doc_id").alias("ida"), F.col("toks").alias("ta"))
    b = d.select(F.col("doc_id").alias("idb"), F.col("toks").alias("tb"))
    inter = F.size(F.array_intersect("ta", "tb"))
    jac = inter.cast("double") / (F.size("ta") + F.size("tb") - inter)
    return (
        a.hint("shuffle_hash")
        .join(b, F.col("ida") < F.col("idb"))
        .select(jac.alias("jac"))
        .filter(F.col("jac") >= 0.5)
        .groupBy(F.round(F.floor(F.col("jac") * 20) / 20, 2).alias("jac_bin"))
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


def _bpe_oracle_sql(num_merges: int = 10) -> str:
    """DuckDB replay of the greedy BPE merge loop, generated as one
    chained-CTE statement with one (pairs -> argmax -> rewrite) block
    per merge round.

    State device: each word's symbol list is encoded as the string
    chr(1)+sym+chr(2) per symbol (the fixture token alphabet is plain
    lowercase, judged safe; delimiters make symbol boundaries
    explicit, so no false sub-symbol matches are possible), and the
    merge rewrite is DuckDB ``replace()`` — left-to-right
    non-overlapping with scan resuming AFTER each replacement, which
    is exactly the greedy Sennrich merge ('aaa' + (a,a) -> [aa, a]);
    the encoded pattern shares no characters across adjacent matches,
    so back-to-back pairs merge correctly ('aaaa' -> [aa, aa]). Pair
    counts are overlapping adjacent positions weighted by word count
    (int64); the argmax tie-break (freq DESC, left, right) is binary
    string order == Python code-point tuple order for UTF-8. Early
    stop falls out structurally: an empty argmax makes every later
    round's CTEs empty, so the UNION ALL just stops emitting rows."""
    # CTEs are MATERIALIZED (r12): w{i} and b{i} are each referenced
    # twice, so DuckDB's CTE inlining re-evaluates the whole upstream
    # merge chain per reference — exponential in num_merges (measured
    # 34 s at sf0.001; sub-second materialized, results identical —
    # the hint changes evaluation strategy only).
    head = f"""
    WITH v AS MATERIALIZED (SELECT w, cnt FROM (
             SELECT w, COUNT(*)::BIGINT AS cnt
             FROM (SELECT unnest({_DTOKS}) AS w FROM documents)
             GROUP BY w ORDER BY cnt DESC, w LIMIT 1000000)),
    w0 AS MATERIALIZED (SELECT chr(1) || array_to_string(regexp_extract_all(w, '.'),
                                            chr(2) || chr(1)) || chr(2)
                      AS enc,
                  cnt FROM v)"""
    rounds = [
        f""",
    s{i} AS MATERIALIZED (SELECT string_split(substr(enc, 2, len(enc) - 2),
                                 chr(2) || chr(1)) AS syms, cnt FROM w{i}),
    p{i} AS MATERIALIZED (SELECT syms[j + 1] AS l, syms[j + 2] AS r,
                    SUM(cnt)::BIGINT AS freq
             FROM s{i}, LATERAL (SELECT unnest(range(len(syms) - 1)) AS j) u
             GROUP BY 1, 2),
    b{i} AS MATERIALIZED (SELECT l, r, freq FROM p{i} ORDER BY freq DESC, l, r LIMIT 1),
    w{i + 1} AS MATERIALIZED (SELECT replace(enc,
                          chr(1) || b.l || chr(2) || chr(1) || b.r || chr(2),
                          chr(1) || b.l || b.r || chr(2)) AS enc, cnt
                 FROM w{i} CROSS JOIN b{i} b)"""
        for i in range(num_merges)
    ]
    sel = "\n    UNION ALL ".join(
        f'SELECT {i}::INT AS "rank", l AS "left", r AS "right",'
        f" l || r AS merged, freq FROM b{i}"
        for i in range(num_merges)
    )
    return head + "".join(rounds) + "\n    " + sel


@query("bpe_train_merges", oracle=_bpe_oracle_sql(10))
def bpe_train_merges(spark, sf_dir):
    """Train a BPE merge table on the corpus (operators/bpe.py): ONE
    corpus pass to the word-frequency vocab, collected once under a
    documented top-V cap, then the classic in-process Sennrich merge
    loop with incremental pair counts — a 50k-merge production train
    is one Spark job plus driver CPU, never a per-round job storm."""
    from ..operators.bpe import bpe_train

    return bpe_train(load_table(spark, sf_dir, "documents"), num_merges=10)


@query(
    "privacy_k_anonymity",
    oracle="""
    SELECT lang, source, CAST(FLOOR(n_chars / 100) AS INT) AS len_bucket,
           COUNT(*) AS n
    FROM documents
    GROUP BY lang, source, len_bucket
    HAVING COUNT(*) < 5
    """,
)
def privacy_k_anonymity(spark, sf_dir):
    """k-anonymity audit over quasi-identifiers (lang, source,
    length bucket): cells with fewer than k=5 members — the
    suppression/generalization worklist a privacy review needs before
    releasing per-slice statistics. One hash aggregation; output is
    violation-sized."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.groupBy(
            "lang",
            "source",
            F.floor(F.col("n_chars") / 100).cast("int").alias("len_bucket"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") < 5)
    )


@query(
    "privacy_l_diversity",
    oracle="""
    SELECT lang, CAST(FLOOR(n_chars / 50) AS INT) AS len_bucket,
           COUNT(*) AS n, COUNT(DISTINCT source) AS n_sensitive
    FROM documents
    GROUP BY lang, len_bucket
    HAVING COUNT(DISTINCT source) < 6
    """,
)
def privacy_l_diversity(spark, sf_dir):
    """l-diversity audit — the companion k-anonymity misses: a cell
    can hold k>=5 members yet leak the sensitive attribute anyway if
    they all SHARE it (homogeneity attack). Each quasi-identifier
    cell (lang, length bucket) must see at least l=6 distinct values
    of the sensitive column (source); cells below l surface as the
    generalization worklist. One aggregation with a distinct count —
    Spark plans COUNT(DISTINCT) as the two-level partial-distinct
    expand, so the shuffle carries (cell, source) pairs, never rows;
    output is violation-sized."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.groupBy(
            "lang",
            F.floor(F.col("n_chars") / 50).cast("int").alias("len_bucket"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("source").alias("n_sensitive"),
        )
        .filter(F.col("n_sensitive") < 6)
    )


@query(
    "privacy_t_closeness",
    # TVD in exact integer algebra: sum_s |n_cs*n - n_s*n_c| over the
    # cells x sensitive-values grid (absent pairs count as n_s*n_c via
    # COALESCE 0), one float division at the end. The subquery scalar
    # (SELECT n FROM tot) is the broadcast-one-row twin of the Spark
    # side's crossJoin(broadcast(total)).
    oracle="""
    WITH d AS (SELECT lang, CAST(FLOOR(n_chars / 50) AS INT) AS len_bucket,
                      source FROM documents),
    tot AS (SELECT COUNT(*)::BIGINT AS n FROM d),
    gs AS (SELECT source, COUNT(*)::BIGINT AS n_s FROM d GROUP BY source),
    cs AS (SELECT lang, len_bucket, source, COUNT(*)::BIGINT AS n_cs
           FROM d GROUP BY 1, 2, 3),
    ct AS (SELECT lang, len_bucket, SUM(n_cs)::BIGINT AS n_c
           FROM cs GROUP BY 1, 2),
    grid AS (SELECT ct.lang, ct.len_bucket, ct.n_c, gs.source, gs.n_s
             FROM ct CROSS JOIN gs),
    j AS (SELECT g.lang, g.len_bucket, g.n_c, g.n_s,
                 COALESCE(cs.n_cs, 0)::BIGINT AS n_cs
          FROM grid g LEFT JOIN cs ON cs.lang = g.lang
               AND cs.len_bucket = g.len_bucket AND cs.source = g.source),
    a AS (SELECT lang, len_bucket, n_c,
                 SUM(abs(n_cs * (SELECT n FROM tot) - n_s * n_c))::BIGINT
                   AS num
          FROM j GROUP BY 1, 2, 3)
    SELECT lang, len_bucket, n_c,
           FLOOR((num::DOUBLE
                  / (2 * n_c * (SELECT n FROM tot))::DOUBLE) * 1e4) / 1e4
             AS tvd
    FROM a
    WHERE num::DOUBLE / (2 * n_c * (SELECT n FROM tot))::DOUBLE > 0.2
    """,
)
def privacy_t_closeness(spark, sf_dir):
    """t-closeness audit — the third rung after k-anonymity and
    l-diversity: a cell can be k-large AND l-diverse yet still leak if
    its sensitive-value DISTRIBUTION skews far from the corpus-wide
    one (skewness attack). Per quasi-identifier cell (lang, length
    bucket), total-variation distance between the cell's `source`
    distribution and the global distribution; cells with TVD > t=0.2
    are the generalization worklist.

    Exactness across engines: TVD is computed on the common
    denominator — sum_s |n_cs*n - n_s*n_c| / (2*n_c*n) — so everything
    up to the single final division is int64 algebra (products bounded
    by n^2; at warehouse scale swap the numerator to DECIMAL(38,0)).
    The cells x sources grid is dimension-sized (langs x buckets x 5
    sources); the global distribution broadcasts."""
    d = load_table(spark, sf_dir, "documents").select(
        "lang",
        F.floor(F.col("n_chars") / 50).cast("int").alias("len_bucket"),
        "source",
    )
    tot = d.groupBy().agg(F.count(F.lit(1)).alias("n"))
    gs = d.groupBy("source").agg(F.count(F.lit(1)).alias("n_s"))
    cs = d.groupBy("lang", "len_bucket", "source").agg(
        F.count(F.lit(1)).alias("n_cs")
    )
    ct = cs.groupBy("lang", "len_bucket").agg(F.sum("n_cs").alias("n_c"))
    grid = ct.crossJoin(F.broadcast(gs)).crossJoin(F.broadcast(tot))
    j = grid.join(cs, ["lang", "len_bucket", "source"], "left").withColumn(
        "n_cs", F.coalesce(F.col("n_cs"), F.lit(0).cast("bigint"))
    )
    a = j.groupBy("lang", "len_bucket", "n_c", "n").agg(
        F.sum(
            F.abs(F.col("n_cs") * F.col("n") - F.col("n_s") * F.col("n_c"))
        ).alias("num")
    )
    tvd_raw = F.col("num").cast("double") / (
        F.lit(2) * F.col("n_c") * F.col("n")
    ).cast("double")
    return (
        a.filter(tvd_raw > 0.2)
        .select(
            "lang",
            "len_bucket",
            "n_c",
            (F.floor(tvd_raw * 1e4) / 1e4).alias("tvd"),
        )
    )


@query(
    "graph_edge_support",
    # triangle support per near-dup edge: |N(a) ∩ N(b)| over the
    # undirected pair graph (the spurious-LSH-edge pruning signal)
    oracle=f"""
    WITH d AS (SELECT doc_id, {_DSET} AS toks FROM documents WHERE doc_id <= 200),
    p AS (SELECT a.doc_id AS a, b.doc_id AS b
          FROM d a JOIN d b ON a.doc_id < b.doc_id
          WHERE len(list_intersect(a.toks, b.toks))::DOUBLE
                / len(list_distinct(list_concat(a.toks, b.toks))) >= 0.8),
    u AS (SELECT a, b FROM p UNION ALL SELECT b, a FROM p),
    adj AS (SELECT a AS node, list(b) AS nbrs FROM u GROUP BY a)
    SELECT p.a AS doc_id_a, p.b AS doc_id_b,
           len(list_intersect(x.nbrs, y.nbrs))::BIGINT AS support
    FROM p JOIN adj x ON x.node = p.a JOIN adj y ON y.node = p.b
    """,
)
def graph_edge_support(spark, sf_dir):
    """Triangle support per near-dup edge
    (operators/dedup.edge_triangle_support): real clusters are
    clique-ish, spurious LSH bridges sit in zero triangles — drop
    support-0 edges before connected components to stop chain
    collapses. Pair-graph-sized work only."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") <= 200)
    return D.edge_triangle_support(D.jaccard_pairs(docs, threshold=0.8))


@query(
    "graph_khop",
    # BFS layers unrolled as CTEs — the oracle mirrors the frontier
    # algebra (layer h+1 = distinct neighbors of layer h; min-per-node
    # over the layered union recovers the first-reach hop)
    oracle=f"""
    WITH d AS (SELECT doc_id, {_DSET} AS toks FROM documents WHERE doc_id <= 200),
    p AS (SELECT a.doc_id AS a, b.doc_id AS b
          FROM d a JOIN d b ON a.doc_id < b.doc_id
          WHERE len(list_intersect(a.toks, b.toks))::DOUBLE
                / len(list_distinct(list_concat(a.toks, b.toks))) >= 0.8),
    e AS (SELECT a AS s, b AS dd FROM p UNION ALL SELECT b, a FROM p),
    h0 AS (SELECT DISTINCT doc_id AS n FROM documents
           WHERE doc_id <= 200 AND doc_id % 50 = 0),
    h1 AS (SELECT DISTINCT e.dd AS n FROM e JOIN h0 ON e.s = h0.n),
    h2 AS (SELECT DISTINCT e.dd AS n FROM e JOIN h1 ON e.s = h1.n),
    h3 AS (SELECT DISTINCT e.dd AS n FROM e JOIN h2 ON e.s = h2.n),
    u AS (SELECT n, 0 AS hop FROM h0 UNION ALL SELECT n, 1 FROM h1
          UNION ALL SELECT n, 2 FROM h2 UNION ALL SELECT n, 3 FROM h3)
    SELECT n AS node, MIN(hop) AS min_hop FROM u GROUP BY n
    """,
)
def graph_khop(spark, sf_dir):
    """3-hop reachability from a seed set over the near-dup pair graph
    (operators/graph.py::khop_reachability): the contamination
    blast-zone question — "if these documents are tainted, what does
    taint reach through near-duplication within k steps". Frontier
    expansion is two frontier-sized shuffles per hop (join + distinct)
    with min_hop resolved by ONE final aggregate over the layered
    union, so no per-round visited-set barrier serializes the plan;
    unbounded reachability belongs to the connected-components
    operators instead. Seeds: every 50th doc of the <=200 slice."""
    from ..operators import graph as G

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") <= 200)
    pairs = D.jaccard_pairs(docs, threshold=0.8)
    seeds = docs.filter(F.col("doc_id") % 50 == 0).select(
        F.col("doc_id").alias("node")
    )
    return G.khop_reachability(pairs, seeds, hops=3)


@query(
    "agg_incremental_merge",
    # oracle recomputes over the FULL table: the merged partial
    # aggregates must equal the from-scratch answer exactly
    oracle="""
    SELECT event_type, COUNT(*) AS n, ROUND(SUM(value), 2) AS sum_value,
           MIN(value) AS min_value, MAX(value) AS max_value,
           MAX(ts) AS latest_ts
    FROM events GROUP BY event_type
    """,
)
def agg_incremental_merge(spark, sf_dir):
    """Incremental aggregation maintenance: per-type stats kept as
    ALGEBRAIC partials (count/sum/min/max/latest), so a delta batch
    updates the standing aggregate by union + re-aggregate — never a
    full recompute. Here base (< Jan 20) and delta (>= Jan 20) are
    aggregated separately and MERGED; the oracle recomputes from
    scratch and must match exactly. events values are exact 2-decimal
    data, so ROUND(merged sum, 2) sits on the grid (see q37's
    half-cent note). This is the batch twin of the streaming running
    totals — same mergeability contract sketches rely on."""
    ev = load_table(spark, sf_dir, "events")
    cut = F.lit("2024-01-20 00:00:00").cast("timestamp")

    def partial(df):
        return df.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("value").alias("s"),
            F.min("value").alias("mn"),
            F.max("value").alias("mx"),
            F.max("ts").alias("lt"),
        )

    base = partial(ev.filter(F.col("ts") < cut))
    delta = partial(ev.filter(F.col("ts") >= cut))
    return (
        base.unionByName(delta)
        .groupBy("event_type")
        .agg(
            F.sum("n").alias("n"),
            F.round(F.sum("s"), 2).alias("sum_value"),
            F.min("mn").alias("min_value"),
            F.max("mx").alias("max_value"),
            F.max("lt").alias("latest_ts"),
        )
    )


@query(
    "dedup_robust_keep_best",
    # end-to-end robust dedup: Jaccard pairs -> drop support-0 edges
    # (spurious-bridge pruning) -> components over surviving edges ->
    # best-quality doc per cluster. Same reachability-closure oracle
    # family, over the PRUNED edge set.
    oracle=f"""
    WITH RECURSIVE
    d AS (SELECT doc_id, {_DSET} AS toks FROM documents WHERE doc_id <= 200),
    p AS (SELECT a.doc_id AS a, b.doc_id AS b
          FROM d a JOIN d b ON a.doc_id < b.doc_id
          WHERE len(list_intersect(a.toks, b.toks))::DOUBLE
                / len(list_distinct(list_concat(a.toks, b.toks))) >= 0.8),
    u AS (SELECT a, b FROM p UNION ALL SELECT b, a FROM p),
    adj AS (SELECT a AS node, list(b) AS nbrs FROM u GROUP BY a),
    kept AS (SELECT p.a, p.b FROM p
             JOIN adj x ON x.node = p.a JOIN adj y ON y.node = p.b
             WHERE len(list_intersect(x.nbrs, y.nbrs)) > 0),
    e AS (SELECT a AS s, b AS dd FROM kept UNION SELECT b, a FROM kept),
    reach(id, comp) AS (
        SELECT s, s FROM e
        UNION
        SELECT e.s, r.comp FROM e JOIN reach r ON e.dd = r.id
    ),
    comp AS (SELECT id AS doc_id, MIN(comp) AS cluster_id FROM reach GROUP BY id),
    allc AS (SELECT d.doc_id, COALESCE(c.cluster_id, d.doc_id)::BIGINT AS cluster_id,
                    len(d.toks) AS nq
             FROM d LEFT JOIN comp c USING (doc_id)),
    r AS (SELECT cluster_id, doc_id, nq,
                 ROW_NUMBER() OVER (PARTITION BY cluster_id
                                    ORDER BY nq DESC, doc_id) AS rn,
                 COUNT(*) OVER (PARTITION BY cluster_id) AS n_members
          FROM allc)
    SELECT cluster_id, doc_id::BIGINT AS kept_doc_id, n_members
    FROM r WHERE rn = 1
    """,
)
def dedup_robust_keep_best(spark, sf_dir):
    """The production dedup composition in one declarative plan:
    near-dup pairs -> triangle-support pruning (spurious LSH bridges
    out) -> connected components -> best-quality canonical doc per
    cluster. Every stage is pair-graph-sized after the pair
    generation; at scale the pairs come from the MinHash band join
    behind the same surface."""
    from ..functions import text as T

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") <= 200)
    pairs = D.jaccard_pairs(docs, threshold=0.8)
    solid = D.edge_triangle_support(pairs).filter(F.col("support") > 0)
    return D.keep_best_per_cluster(
        docs, solid, quality=F.size(T.distinct_tokens(F.col("text")))
    )


@query(
    "embedding_quantize_report",
    # identical float expression order on both sides -> identical
    # doubles -> identical floor() quantization decisions
    oracle="""
    WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS emb FROM embeddings),
    u AS (SELECT label, vec_id, unnest(emb) AS v,
                 generate_subscripts(emb, 1) AS i FROM e),
    r AS (SELECT i, MIN(v) AS mn, MAX(v) - MIN(v) AS rng FROM u GROUP BY i),
    x AS (SELECT u.label, u.vec_id,
                 CASE WHEN r.rng = 0 THEN 0.0
                      ELSE u.v - (r.mn + FLOOR((u.v - r.mn) / r.rng * 255 + 0.5)
                                  * r.rng / 255) END AS err
          FROM u JOIN r USING (i)),
    p AS (SELECT label, vec_id, SUM(err * err) / COUNT(*) AS vm,
                 MAX(ABS(err)) AS mx
          FROM x GROUP BY label, vec_id)
    SELECT label, COUNT(*) AS n_vectors, ROUND(AVG(vm), 9) AS mse,
           ROUND(MAX(mx), 6) AS max_abs_err
    FROM p GROUP BY label
    """,
)
def embedding_quantize_report(spark, sf_dir):
    """uint8 scalar-quantization reconstruction report per label
    (operators/similarity.quantize_report_int8): global per-dim
    ranges -> broadcast -> row-local quantize/dequantize error -> one
    aggregate. The 4x-compression go/no-go table for an embedding
    store."""
    return S.quantize_report_int8(load_table(spark, sf_dir, "embeddings"))


@query(
    "search_bm25",
    # constants mirror the Python-folded literals (k1+1 = 2.2,
    # 1-b = 0.25) and the exact float expression order, so both
    # engines compute identical doubles
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_DTOKS} AS t FROM documents),
    base AS (SELECT doc_id, t, len(t) AS dl FROM toks),
    stats AS (SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM base),
    q AS (SELECT doc_id, dl, unnest(t) AS term FROM base),
    tf AS (SELECT doc_id, dl, term, COUNT(*) AS tf FROM q
           WHERE term IN ('window', 'shuffle', 'broadcast')
           GROUP BY doc_id, dl, term),
    df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term)
    SELECT doc_id, n_terms, score FROM (
      SELECT tf.doc_id, COUNT(*)::BIGINT AS n_terms,
             ROUND(SUM(ln(1.0 + (s.n_docs - df.df + 0.5) / (df.df + 0.5))
                       * (tf.tf * 2.2)
                       / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / s.avgdl))), 4)
                 AS score,
             ROW_NUMBER() OVER (
                 ORDER BY SUM(ln(1.0 + (s.n_docs - df.df + 0.5) / (df.df + 0.5))
                              * (tf.tf * 2.2)
                              / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / s.avgdl)))
                          DESC, tf.doc_id) AS rk
      FROM tf JOIN df USING (term) CROSS JOIN stats s
      GROUP BY tf.doc_id
    ) WHERE rk <= 20
    """,
)
def search_bm25(spark, sf_dir):
    """Okapi BM25 top-20 for the query bag (operators/search.
    keyword_search_bm25): saturated tf + length normalization — the
    standard retrieval scorer; same map-side query-vocabulary cut and
    single (doc, term) shuffle as the tf-idf form."""
    from ..operators import search as SE

    return SE.keyword_search_bm25(
        load_table(spark, sf_dir, "documents"), ["window", "shuffle", "broadcast"], k=20
    )


@query(
    "search_eval_metrics",
    # Relevance judgments: rel = tf for docs mentioning the term >= 2
    # times (strong relevance), so MRR/recall are non-vacuous against
    # a ranker that retrieves every tf >= 1 doc. Linear-gain DCG; rank
    # ties broken by doc_id in both engines.
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_DTOKS} AS t FROM documents),
    base AS (SELECT doc_id, t, len(t) AS dl FROM toks),
    stats AS (SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM base),
    q AS (SELECT doc_id, dl, unnest(t) AS term FROM base),
    tf AS (SELECT doc_id, dl, term, COUNT(*) AS tf FROM q
           WHERE term IN ('window', 'join', 'scan')
           GROUP BY doc_id, dl, term),
    df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
    scored AS (SELECT tf.term, tf.doc_id,
                      ln(1.0 + (s.n_docs - df.df + 0.5) / (df.df + 0.5))
                        * (tf.tf * 2.2)
                        / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / s.avgdl))
                          AS score
               FROM tf JOIN df USING (term) CROSS JOIN stats s),
    runk AS (SELECT term, doc_id, rk FROM (
               SELECT term, doc_id,
                      ROW_NUMBER() OVER (PARTITION BY term
                                         ORDER BY score DESC, doc_id) AS rk
               FROM scored) WHERE rk <= 20),
    truth AS (SELECT term, doc_id, tf::DOUBLE AS rel FROM tf WHERE tf >= 2),
    j AS (SELECT r.term, r.rk, COALESCE(t.rel, 0) AS rel
          FROM runk r LEFT JOIN truth t
            ON t.term = r.term AND t.doc_id = r.doc_id),
    got AS (SELECT term, SUM(rel / log2(rk + 1)) AS dcg,
                   MAX(CASE WHEN rel > 0 THEN 1.0 / rk ELSE 0 END) AS mrr,
                   SUM(CASE WHEN rel > 0 THEN 1 ELSE 0 END) AS hits
            FROM j GROUP BY term),
    ideal AS (SELECT term,
                     SUM(CASE WHEN irk <= 20
                         THEN rel / log2(irk + 1) ELSE 0 END) AS idcg,
                     COUNT(*) AS n_rel
              FROM (SELECT term, doc_id, rel,
                           ROW_NUMBER() OVER (PARTITION BY term
                                              ORDER BY rel DESC, doc_id)
                             AS irk
                    FROM truth)
              GROUP BY term)
    SELECT g.term AS q_term, ROUND(g.mrr, 4) AS mrr,
           ROUND(CASE WHEN COALESCE(i.idcg, 0) > 0
                 THEN g.dcg / i.idcg ELSE 0 END, 4) AS ndcg,
           ROUND(CASE WHEN COALESCE(i.n_rel, 0) > 0
                 THEN g.hits::DOUBLE / i.n_rel ELSE 0 END, 4) AS recall
    FROM got g LEFT JOIN ideal i USING (term) ORDER BY q_term
    """,
)
def search_eval_metrics(spark, sf_dir):
    """Offline retrieval eval (operators/search.py::ranking_metrics):
    MRR / nDCG@20 / recall@20 of per-term BM25 runs against graded
    tf >= 2 relevance judgments — the metric loop that gates ranker
    swaps. Run lists are k-sized per query before any metric math."""
    from ..functions import text as T
    from ..operators import search as SE

    docs = load_table(spark, sf_dir, "documents")
    terms = ["window", "join", "scan"]
    # ONE corpus pass for all three per-term runs (r11) — the looped
    # per-term keyword_search_bm25 form re-ran the whole pipeline per
    # term; scores/ranks are expression-identical (see
    # keyword_search_bm25_runs)
    runs = SE.keyword_search_bm25_runs(docs, terms, k=20)
    toks = docs.select(
        "doc_id", F.explode(T.tokens(F.col("text"))).alias("term")
    ).filter(F.col("term").isin(terms))
    truth = (
        toks.groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .filter(F.col("tf") >= 2)
        .select(
            F.col("term").alias("q_term"),
            "doc_id",
            F.col("tf").cast("double").alias("rel"),
        )
    )
    return SE.ranking_metrics(runs, truth, k=20)


@query(
    "select_pareto_docs",
    # Window-staircase oracle (independent engine, same math): group
    # maxima of the diversity ratio per length, kept where strictly
    # above the running max over larger lengths. The O(n^2) NOT
    # EXISTS form is checked in tests/test_pareto.py on constructed
    # data; at sf scale DuckDB needs the same O(n log n) shape. The
    # ratio is an exact int/int IEEE division, so cross-engine
    # equality on the double is bit-safe.
    oracle=f"""
    WITH d AS (SELECT doc_id, n_chars,
                      len(list_distinct(t))::DOUBLE / len(t) AS b
               FROM (SELECT doc_id, n_chars, {_DTOKS} AS t FROM documents)
               WHERE len(t) > 0),
    g AS (SELECT n_chars, MAX(b) AS gb FROM d GROUP BY n_chars),
    r AS (SELECT n_chars, gb,
                 MAX(gb) OVER (ORDER BY n_chars DESC
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND 1 PRECEDING) AS pm
          FROM g)
    SELECT d.doc_id, d.n_chars, ROUND(d.b, 4) AS uniq_ratio
    FROM d JOIN r ON d.n_chars = r.n_chars AND d.b = r.gb
    WHERE r.pm IS NULL OR r.gb > r.pm
    """,
)
def select_pareto_docs(spark, sf_dir):
    """Pareto-frontier data selection (`operators/sampling.py::
    pareto_frontier_2d`): documents maximal in BOTH length and
    lexical diversity (distinct-token ratio) — the multi-objective
    selection where no scalar quality score exists. Exact frontier
    via the staircase decomposition (one group-by shuffle + the
    terasort prefix-max), never the O(n²) dominance self-join."""
    from ..functions import text as T

    docs = load_table(spark, sf_dir, "documents")
    toks = T.tokens(F.col("text"))
    d = docs.select(
        "doc_id",
        "n_chars",
        (F.size(F.array_distinct(toks)).cast("double") / F.size(toks)).alias(
            "uniq_ratio"
        ),
    ).filter(F.size(toks) > 0)
    from ..operators.sampling import pareto_frontier_2d

    return pareto_frontier_2d(d, "n_chars", "uniq_ratio").select(
        "doc_id", "n_chars", F.round("uniq_ratio", 4).alias("uniq_ratio")
    )


@query(
    "dedup_blocking_recall",
    # The oracle recomputes the truth set (brute O(n²) SQL) and the
    # SNM pair set (rank-window SQL) independently; prefix filtering
    # is EXACT by construction, so its expected count IS the truth
    # count — a Spark-side recall bug in any method breaks the match.
    oracle=f"""
    WITH d AS (SELECT doc_id, lower(trim(text)) AS k, {_DSET} AS toks
               FROM documents WHERE doc_id < 400),
    t AS (SELECT a.doc_id AS ida, b.doc_id AS idb
          FROM d a JOIN d b ON a.doc_id < b.doc_id
          WHERE len(list_intersect(a.toks, b.toks))::DOUBLE
                / len(list_distinct(list_concat(a.toks, b.toks))) >= 0.9),
    r AS (SELECT doc_id, toks,
                 ROW_NUMBER() OVER (ORDER BY k, doc_id) AS rn FROM d),
    s AS (SELECT a.doc_id AS ida, b.doc_id AS idb
          FROM r a JOIN r b ON b.rn - a.rn BETWEEN 1 AND 5
          WHERE len(list_intersect(a.toks, b.toks))::DOUBLE
                / len(list_distinct(list_concat(a.toks, b.toks))) >= 0.9),
    tc AS (SELECT COUNT(*) AS n FROM t)
    SELECT m.method, m.n_pairs, tc.n AS n_true,
           ROUND(m.n_pairs::DOUBLE / tc.n, 4) AS recall
    FROM (SELECT 'brute' AS method, (SELECT COUNT(*) FROM t) AS n_pairs
          UNION ALL
          SELECT 'prefix', (SELECT COUNT(*) FROM t)
          UNION ALL
          SELECT 'snm', (SELECT COUNT(*) FROM s)) m, tc
    """,
)
def dedup_blocking_recall(spark, sf_dir):
    """Blocking-strategy audit: the three exact-verify candidate
    generators — brute O(n²), prefix filtering (rarity anchors,
    provably exact), sorted-neighborhood (rank adjacency, recall
    traded to the sort key) — run on the same corpus slice, scored as
    (pairs found, recall vs brute truth). Every method verifies exact
    Jaccard on its candidates, so there are no false positives and
    recall = n_pairs/n_true. This is the operating decision table a
    100 TB dedup run is chosen from: brute is the truth oracle you
    can only afford on a sample, prefix is exact at Θ(true pairs)
    cost, SNM is Θ(n·w) with measured recall — the same comparison
    MinHash enters via dedup_lsh_recall_audit (probabilistic, so it
    lives in its own fixed-slice query rather than this exact-SQL
    one). The doc_id bound is the brute stage's, not the methods'."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 400)
    th = 0.9
    brute = D.jaccard_pairs(docs, threshold=th)
    prefix = D.prefix_filter_pairs(docs, threshold=th)
    snm = D.sorted_neighborhood_pairs(docs, threshold=th, window=5)

    def n(df, name):
        return df.agg(F.count(F.lit(1)).alias("n_pairs")).withColumn(
            "method", F.lit(name)
        )

    rows = n(brute, "brute").unionByName(n(prefix, "prefix")).unionByName(
        n(snm, "snm")
    )
    # denominator via a window over the THREE summary rows (not the
    # data) — re-deriving it from brute would recompute the O(n²)
    # stage a second time, which Spark does not dedupe across action
    # subtrees
    w = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    n_true = F.max(F.when(F.col("method") == "brute", F.col("n_pairs"))).over(w)
    return rows.select(
        "method",
        "n_pairs",
        n_true.alias("n_true"),
        F.round(F.col("n_pairs").cast("double") / n_true, 4).alias("recall"),
    )


@query(
    "doc_sample_weighted_k",
    # Same A-ES draw replayed in SQL: 48-bit md5 uniform, key =
    # ln(u)/w, ROW_NUMBER per lang over (key DESC, doc_id). Engines'
    # libm ln may differ by 1 ulp, but keys are random doubles —
    # an order flip needs two keys within that ulp, ~2^-40 odds.
    oracle="""
    WITH d AS (SELECT doc_id, lang, n_chars,
                      ln((('0x' || substr(md5(doc_id::VARCHAR), 1, 12))::BIGINT
                          + 0.5) / 281474976710656.0)
                      / n_chars AS key
               FROM documents WHERE n_chars > 0),
    r AS (SELECT doc_id, lang, n_chars,
                 ROW_NUMBER() OVER (PARTITION BY lang
                                    ORDER BY key DESC, doc_id) AS rn
          FROM d)
    SELECT doc_id, lang, n_chars FROM r WHERE rn <= 40
    """,
)
def doc_sample_weighted_k(spark, sf_dir):
    """Fixed-budget weighted sampling (`operators/sampling.py::
    sample_weighted_fixed_k`): exactly 40 documents per language,
    inclusion probability proportional to length (A-ES exponential
    keys over content-derived md5 uniforms — reproducible across
    engines, no RNG). One window shuffle on the lang key; the
    unstratified form degrades to per-partition top-k + a k-sized
    final ordering, never a data-sized global sort."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    from ..operators.sampling import sample_weighted_fixed_k

    return sample_weighted_fixed_k(
        docs, "n_chars", k=40, strata_cols=["lang"]
    )


@query(
    "stream_view_click_join",
    # batch twin of the stream-stream interval join: every click
    # paired with same-user views in the preceding hour; aggregated
    # to per-user counts so no absolute timestamp reaches the output
    # (vanilla-session timezone safe)
    oracle="""
    WITH ev AS (SELECT * FROM events WHERE user_id % 2 = 0)
    SELECT c.user_id,
           COUNT(*) AS n_pairs,
           COUNT(DISTINCT c.event_id) AS n_clicks
    FROM ev c JOIN ev v
      ON v.user_id = c.user_id
     AND c.event_type = 'click' AND v.event_type = 'view'
     AND v.ts <= c.ts AND v.ts >= c.ts - INTERVAL 1 HOUR
    GROUP BY c.user_id
    """,
)
def stream_view_click_join(spark, sf_dir):
    """Stream-stream interval join on the STREAMING engine
    (streaming/events.py::view_click_stream_join): clicks paired with
    the same user's views from the preceding hour, both sides
    watermarked and the join time-bracketed from both ends — the
    condition that keeps each state store bounded to
    watermark + gap, the whole game in production stream-stream
    joins. FOURTH streaming registry entry (join state; the others
    cover dedup, session-window, and windowed-agg state). Drained via
    availableNow to a memory sink, then rolled up per user — counts
    only, so the output is timezone-invariant."""
    from ..streaming.events import (
        read_events_stream,
        run_to_memory,
        view_click_stream_join,
    )

    _STREAM_SINK_SEQ[0] += 1
    name = f"stream_vc_join_sink_{_STREAM_SINK_SEQ[0]}"
    # deterministic half-user sample: the state-store mechanics are
    # identical, the bench pays half the pair mass
    ev = read_events_stream(spark, sf_dir).filter(F.col("user_id") % 2 == 0)
    run_to_memory(
        view_click_stream_join(ev), name, output_mode="append", state_partitions=8
    )
    return spark.table(name).groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.countDistinct("click_id").alias("n_clicks"),
    )


@query(
    "stream_latest_by_key",
    # same contract (and oracle) as the batch events_latest_by_key —
    # here the compaction runs on the STREAMING engine as a max_by
    # aggregate in complete mode (CDC upsert materialized view)
    oracle="""
    SELECT user_id, event_id, event_type, ROUND(value, 2) AS value
    FROM events
    QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id
                               ORDER BY ts DESC, event_id DESC) = 1
    """,
)
def stream_latest_by_key(spark, sf_dir):
    """Latest-wins materialized view on the STREAMING engine
    (streaming/events.py::latest_by_key_stream): the CDC upsert
    compaction as a running max_by aggregate — state per key is ONE
    row (bounded by key cardinality, not stream length; no watermark
    because nothing is ever evicted, the view IS the point). FIFTH
    streaming registry entry, covering unbounded-aggregate state; the
    others cover dedup, session-window, windowed-agg, and join state.
    Drained via availableNow in complete mode to a memory sink; the
    (ts, event_id) composite order key makes the winner deterministic,
    so the batch QUALIFY oracle carries over unchanged."""
    from ..streaming.events import (
        latest_by_key_stream,
        read_events_stream,
        run_to_memory,
    )

    _STREAM_SINK_SEQ[0] += 1
    name = f"stream_latest_sink_{_STREAM_SINK_SEQ[0]}"
    run_to_memory(
        latest_by_key_stream(read_events_stream(spark, sf_dir)),
        name,
        output_mode="complete",
        state_partitions=8,
    )
    return spark.table(name)


@query(
    "stream_running_totals",
    # oracle = the from-scratch batch totals: a running stateful
    # aggregate drained to completion must land exactly there
    oracle="""
    SELECT user_id, COUNT(*) AS n_events,
           ROUND(SUM(COALESCE(value, 0)), 2) AS total_value
    FROM events GROUP BY user_id
    """,
)
def stream_running_totals(spark, sf_dir):
    """CUSTOM stateful streaming operator in the driver window
    (streaming/events.py::running_user_totals,
    ``applyInPandasWithState``): per-user running count + value total,
    arbitrary Python state Arrow-batched and partitioned by key across
    executors — the API every stateful operator Spark lacks gets built
    on. SIXTH streaming registry entry, covering the arbitrary-state
    API (the others cover dedup, session-window, windowed-agg, join,
    and unbounded-aggregate state). Update mode emits one row per key
    per micro-batch it appears in; n_events is strictly increasing per
    key, so max_by(total_value, n_events) recovers the final state
    whatever the file-to-batch split — making the batch GROUP BY
    oracle exact."""
    from ..streaming.events import read_events_stream, run_to_memory, running_user_totals

    _STREAM_SINK_SEQ[0] += 1
    name = f"stream_running_sink_{_STREAM_SINK_SEQ[0]}"
    run_to_memory(
        running_user_totals(read_events_stream(spark, sf_dir)),
        name,
        output_mode="update",
        state_partitions=8,
    )
    return spark.table(name).groupBy("user_id").agg(
        F.max("n_events").alias("n_events"),
        F.max_by("total_value", "n_events").alias("total_value"),
    )


@query(
    "sim_knn_classify",
    # kNN auto-labeling over the embedding column: k=5 cosine
    # neighbors per probe (deterministic (score DESC, n_id) order,
    # same kernel as sim_topk_bruteforce), majority vote with
    # (votes DESC, label ASC) tiebreak; integer votes
    oracle="""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS emb, label
               FROM embeddings),
    q AS (SELECT vec_id AS q_id, emb AS qv, label AS true_label
          FROM v WHERE vec_id < 20),
    scored AS (SELECT q.q_id, q.true_label, c.vec_id AS n_id, c.label,
                      list_dot_product(qv, c.emb)
                        / (sqrt(list_dot_product(qv, qv))
                           * sqrt(list_dot_product(c.emb, c.emb))) AS score
               FROM q JOIN v c ON c.vec_id <> q.q_id),
    r AS (SELECT q_id, true_label, label,
                 ROW_NUMBER() OVER (PARTITION BY q_id
                                    ORDER BY score DESC, n_id) AS rnk
          FROM scored),
    votes AS (SELECT q_id, true_label, label, COUNT(*)::BIGINT AS votes
              FROM r WHERE rnk <= 5 GROUP BY 1, 2, 3),
    w AS (SELECT q_id, true_label, label AS pred_label, votes,
                 ROW_NUMBER() OVER (PARTITION BY q_id
                                    ORDER BY votes DESC, label) AS vr
          FROM votes)
    SELECT q_id, pred_label::BIGINT AS pred_label, votes,
           true_label::BIGINT AS true_label,
           (pred_label = true_label)::BIGINT AS correct
    FROM w WHERE vr = 1
    """,
)
def sim_knn_classify(spark, sf_dir):
    """kNN auto-labeling — predict each probe's label from the
    majority vote of its k=5 cosine neighbors: the workhorse for
    propagating a small set of human labels across an embedded corpus
    (topic tagging, quality-tier assignment) before training. Rides
    the SAME Arrow brute-force kernel as sim_topk_bruteforce
    (deterministic (score DESC, n_id) neighbor order), adds a keyed
    label lookup and an integer majority vote with (votes DESC, label
    ASC) tiebreak — the vote layer is all int64. Scale: probes
    broadcast against the corpus exactly like the deployed ANN path;
    swap the brute-force arm for sim_ann_ivf's bucketed probe at
    corpus scale and the vote layer is unchanged (k rows per probe)."""
    emb = load_table(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") < 20)
    knn = S.brute_force_topk_arrow(probes, emb, k=5)
    labels = emb.select(F.col("vec_id").alias("n_id"), F.col("label").alias("nl"))
    truth = emb.select(
        F.col("vec_id").alias("q_id"), F.col("label").cast("bigint").alias("true_label")
    )
    votes = (
        knn.join(labels, "n_id")
        .groupBy("q_id", "nl")
        .agg(F.count(F.lit(1)).alias("votes"))
    )
    w = votes.select(
        "q_id",
        "nl",
        "votes",
        F.row_number()
        .over(
            Window.partitionBy("q_id").orderBy(F.col("votes").desc(), F.col("nl"))
        )
        .alias("vr"),
    ).filter(F.col("vr") == 1)
    return (
        w.join(F.broadcast(truth), "q_id")
        .select(
            "q_id",
            F.col("nl").cast("bigint").alias("pred_label"),
            "votes",
            "true_label",
            (F.col("nl") == F.col("true_label")).cast("bigint").alias("correct"),
        )
    )
