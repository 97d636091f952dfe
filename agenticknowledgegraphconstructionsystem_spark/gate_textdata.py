"""Gate queries for the training-data-pipeline operators (dedup,
similarity, text analysis) over documents/embeddings, with DuckDB oracles.

Exactness techniques:
* jaccard thresholds as integer cross-multiplication (2·inter >= union),
* cosine emitted as CAST(FLOOR(cos·1e9) AS BIGINT) — the double pipeline
  (widen float32→double, ordered fold dot product, IEEE division/sqrt) is
  bit-identical between Spark's `aggregate` fold and DuckDB's
  `list_reduce` fold, so the scaled integer matches exactly,
* all divisions that feed integers go through explicit floor().
"""

from __future__ import annotations

from fractions import Fraction

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .operators.dedup import ngram_jaccard_pairs
from .session import spread_scan
from .operators.similarity import _dot, _norm
from .operators.textstats import (
    LANG_MARKERS,
    TOKEN_REGEX,
    detect_language,
    fingerprint,
    quality_columns,
    token_counts,
)

_BIG = "bigint"


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # single-row-group input: spread the scan or every per-row text stage
    # above the first exchange runs on one core (session.spread_scan)
    return spread_scan(spark.read.parquet(f"{sf_dir}/documents.parquet"), "doc_id")


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spread_scan(spark.read.parquet(f"{sf_dir}/embeddings.parquet"), "vec_id")


# ---------------------------------------------------------------------------
# dedup
# ---------------------------------------------------------------------------

def q_exact_dup(spark, sf_dir):
    return (
        _docs(spark, sf_dir)
        .select("doc_id", F.md5("text").alias("content_hash"))
        .groupBy("content_hash")
        .agg(
            F.min("doc_id").cast(_BIG).alias("keeper"),
            F.count("*").cast(_BIG).alias("n_copies"),
        )
    )


O_EXACT_DUP = """
SELECT md5(text) AS content_hash,
       CAST(MIN(doc_id) AS BIGINT) AS keeper,
       CAST(COUNT(*) AS BIGINT) AS n_copies
FROM documents GROUP BY md5(text)"""


def q_ngram_jaccard(spark, sf_dir):
    """Exact 3-gram Jaccard pairs at threshold 1/3, integers only."""
    p = ngram_jaccard_pairs(_docs(spark, sf_dir), n=3, threshold=Fraction(1, 3))
    return p.select(
        F.col("id_a").cast(_BIG).alias("id_a"),
        F.col("id_b").cast(_BIG).alias("id_b"),
        F.col("inter").cast(_BIG).alias("inter"),
        F.col("sz_a").cast(_BIG).alias("sz_a"),
        F.col("sz_b").cast(_BIG).alias("sz_b"),
    )


O_NGRAM_JACCARD = """
WITH w AS (
  SELECT doc_id, string_split_regex(lower(text), '\\s+') AS words FROM documents WHERE text IS NOT NULL
),
sh AS (
  SELECT DISTINCT doc_id, array_to_string(words[i:i+2], ' ') AS shingle
  FROM w, unnest(range(1, greatest(len(words) - 2, 1) + 1)) AS t(i)
),
sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
  FROM sh a JOIN sh b USING (shingle) WHERE a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b,
       CAST(inter AS BIGINT) AS inter,
       CAST(sa.sz AS BIGINT) AS sz_a, CAST(sb.sz AS BIGINT) AS sz_b
FROM inter
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE inter * 3 >= sa.sz + sb.sz - inter"""


# ---------------------------------------------------------------------------
# text analysis
# ---------------------------------------------------------------------------

def q_lang_id(spark, sf_dir):
    d = _docs(spark, sf_dir)
    return d.select("doc_id", detect_language(F.col("text")).alias("detected_lang"))


def _o_lang_scores() -> str:
    parts = []
    for lang, toks in LANG_MARKERS.items():
        occ = " + ".join(
            f"CAST((length(p) - length(replace(p, ' {t} ', ''))) / {len(t) + 2} AS BIGINT)"
            for t in toks
        )
        parts.append(f"({occ}) AS s_{lang}")
    return ", ".join(parts)


O_LANG_ID = f"""
WITH p AS (SELECT doc_id, ' ' || lower(coalesce(text, '')) || ' ' AS p FROM documents),
s AS (SELECT doc_id, {_o_lang_scores()} FROM p)
SELECT doc_id,
       CASE WHEN GREATEST(s_de, s_en, s_es, s_fr) <= 0 THEN 'und'
            WHEN s_de = GREATEST(s_de, s_en, s_es, s_fr) THEN 'de'
            WHEN s_en = GREATEST(s_de, s_en, s_es, s_fr) THEN 'en'
            WHEN s_es = GREATEST(s_de, s_en, s_es, s_fr) THEN 'es'
            ELSE 'fr' END AS detected_lang
FROM s"""


def q_quality(spark, sf_dir):
    d = _docs(spark, sf_dir)
    cols = quality_columns(F.col("text"))
    return d.select("doc_id", *[c.alias(n) for n, c in cols.items()])


_O_STOPS = " + ".join(
    f"CAST((length(p) - length(replace(p, ' {t} ', ''))) / {len(t) + 2} AS BIGINT)"
    for t in LANG_MARKERS["en"]
)

O_QUALITY = f"""
WITH base AS (
  SELECT doc_id,
         coalesce(text, '') AS t,
         lower(coalesce(text, '')) AS lt,
         ' ' || lower(coalesce(text, '')) || ' ' AS p
  FROM documents
),
m AS (
  SELECT doc_id,
         CAST(length(t) AS BIGINT) AS n_chars,
         CAST(len(list_filter(string_split_regex(lt, '\\s+'), x -> x <> '')) AS BIGINT) AS n_words,
         CAST(length(regexp_replace(lt, '[^a-z]', '', 'g')) AS BIGINT) AS n_alpha,
         CAST(length(regexp_replace(lt, '[^.,;:!?]', '', 'g')) AS BIGINT) AS n_punct,
         {_O_STOPS} AS stop_hits
  FROM base
),
m2 AS (
  SELECT *,
         CASE WHEN n_words > 0 THEN CAST(FLOOR(n_alpha * 100 / n_words) AS BIGINT) ELSE 0 END AS mean_word_len_x100,
         CASE WHEN n_chars > 0 THEN CAST(FLOOR(n_alpha * 50 / n_chars) AS BIGINT) ELSE 0 END AS alpha_component,
         LEAST(CAST(20 AS BIGINT), CAST(FLOOR(n_chars / 50) AS BIGINT)) AS len_component
  FROM m
)
SELECT doc_id, n_chars, n_words, n_alpha, n_punct, stop_hits, mean_word_len_x100,
       alpha_component
       + (CASE WHEN mean_word_len_x100 BETWEEN 300 AND 800 THEN 30
               WHEN mean_word_len_x100 >= 200 AND mean_word_len_x100 < 300 THEN 15
               ELSE 0 END)
       + len_component AS quality_pct
FROM m2"""


def q_token_count(spark, sf_dir):
    d = _docs(spark, sf_dir)
    cols = token_counts(F.col("text"))
    return d.select("doc_id", *[c.alias(n) for n, c in cols.items()])


O_TOKEN_COUNT = f"""
SELECT doc_id,
       CAST(len(list_filter(string_split_regex(lower(coalesce(text,'')), '\\s+'), x -> x <> '')) AS BIGINT) AS ws_tokens,
       CAST(len(regexp_extract_all(lower(coalesce(text,'')), '{TOKEN_REGEX}')) AS BIGINT) AS bpe_tokens
FROM documents"""


def q_fingerprint(spark, sf_dir):
    d = _docs(spark, sf_dir)
    return d.select("doc_id", fingerprint(F.col("text")).alias("fp"))


O_FINGERPRINT = """
SELECT doc_id, md5(trim(regexp_replace(lower(coalesce(text,'')), '\\s+', ' ', 'g'))) AS fp
FROM documents"""


# ---------------------------------------------------------------------------
# similarity search
# ---------------------------------------------------------------------------

def q_ann_cosine_topk(spark, sf_dir):
    """Brute-force cosine top-5 for queries vec_id < 5; cosine scaled to
    an exact integer (floor(cos * 1e9))."""
    emb = _emb(spark, sf_dir)
    q = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").cast("array<double>").alias("qv")
    )
    c = emb.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").cast("array<double>").alias("cv")
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            (_dot(F.col("qv"), F.col("cv")) / (_norm(F.col("qv")) * _norm(F.col("cv")))).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 5)
        .select(
            F.col("query_id").cast(_BIG).alias("query_id"),
            F.col("neighbor_id").cast(_BIG).alias("neighbor_id"),
            F.floor(F.col("cosine") * 1e9).cast(_BIG).alias("cos_e9"),
            F.col("rank").cast(_BIG).alias("rank"),
        )
    )


O_ANN_COSINE = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         list_reduce(list_transform(list_zip(q.v, c.v), x -> x[1] * x[2]), (acc, x) -> acc + x)
         / (sqrt(list_reduce(list_transform(q.v, x -> x * x), (acc, x) -> acc + x))
            * sqrt(list_reduce(list_transform(c.v, x -> x * x), (acc, x) -> acc + x))) AS cosine
  FROM e q JOIN e c ON q.vec_id <> c.vec_id
  WHERE q.vec_id < 5
),
ranked AS (
  SELECT query_id, neighbor_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT CAST(query_id AS BIGINT) AS query_id, CAST(neighbor_id AS BIGINT) AS neighbor_id,
       CAST(FLOOR(cosine * 1e9) AS BIGINT) AS cos_e9, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= 5"""


# ---------------------------------------------------------------------------
# LSH suites — fully oracled via the portable poly/affine hash family
# (semantics.POLY_P arithmetic renders identically in Spark Columns and
# DuckDB SQL) and, for RHP, via plane literals inlined into both engines.
# ---------------------------------------------------------------------------

from . import semantics as S  # noqa: E402  (oracle builders render its constants)

#: td_minhash_dups gate parameters (Spark call + oracle SQL share these)
MINHASH_GATE = dict(n=3, num_hashes=32, bands=16, threshold=0.3, max_bucket=10_000)
#: td_rhp_ann_topk gate parameters (4-bit bands: query side is broadcast)
RHP_GATE = dict(dim=64, num_planes=16, bands=4, seed=7)
#: td_emb_near_dup gate parameters (8-bit bands: corpus self-join needs a
#: 2^-8 random-collision rate — see embedding_near_duplicates docstring)
EMB_GATE = dict(dim=64, num_planes=32, bands=4, seed=7)
EMB_NEAR_DUP_THRESHOLD = 0.95
EMB_PERTURB_N = 25  # perturbed near-dup twins injected for vec_id < N
EMB_PERTURB_ID_OFFSET = 100_000


def _sql_poly(expr: str) -> str:
    """DuckDB rendering of semantics.poly_hash(expr)."""
    return (
        f"list_reduce(list_prepend(CAST({S.POLY_SEED0} AS BIGINT), "
        f"list_transform(string_split({expr}, ''), c -> CAST(ord(c) AS BIGINT))), "
        f"(acc, c) -> (acc * {S.POLY_BASE} + c) % {S.POLY_P})"
    )


def _sql_affine(h: str, a: int, b: int) -> str:
    return f"(({a} * {h} + {b}) % {S.POLY_P})"


def q_minhash_dups(spark, sf_dir):
    from .operators.dedup import minhash_near_duplicates

    g = MINHASH_GATE
    pairs = minhash_near_duplicates(
        _docs(spark, sf_dir),
        n=g["n"],
        num_hashes=g["num_hashes"],
        bands=g["bands"],
        threshold=g["threshold"],
        max_bucket=g["max_bucket"],
    )
    return pairs.select(
        F.col("id_a").cast(_BIG).alias("id_a"),
        F.col("id_b").cast(_BIG).alias("id_b"),
        F.col("inter").cast(_BIG).alias("inter"),
        F.col("sz_a").cast(_BIG).alias("sz_a"),
        F.col("sz_b").cast(_BIG).alias("sz_b"),
    )


def _o_minhash_dups() -> str:
    g = MINHASH_GATE
    rpb = g["num_hashes"] // g["bands"]
    fr = Fraction(str(g["threshold"]))
    mins = ",\n         ".join(
        f"MIN({_sql_affine('h', S.MINHASH_A[k], S.MINHASH_B[k])}) AS h{k}"
        for k in range(g["num_hashes"])
    )
    band_case = " ".join(
        f"WHEN {b} THEN "
        + (f"h{b * rpb} * {S.POLY_P} + h{b * rpb + 1}" if rpb == 2 else f"h{b * rpb}")
        for b in range(g["bands"])
    )
    return f"""
WITH w AS (
  SELECT doc_id, string_split_regex(lower(text), '\\s+') AS words
  FROM documents WHERE text IS NOT NULL
),
sh AS (
  SELECT DISTINCT doc_id, array_to_string(words[i:i+{g["n"] - 1}], ' ') AS shingle
  FROM w, unnest(range(1, greatest(len(words) - {g["n"] - 1}, 1) + 1)) AS t(i)
),
shn AS (SELECT doc_id, shingle FROM sh WHERE shingle <> ''),
hs AS (SELECT doc_id, {_sql_poly('shingle')} AS h FROM shn),
sig AS (SELECT doc_id,
         {mins}
        FROM hs GROUP BY doc_id),
banded AS (
  SELECT doc_id, t.b AS band_id, CASE t.b {band_case} END AS band_hash
  FROM sig, unnest(range(0, {g["bands"]})) AS t(b)
),
capped AS (
  SELECT doc_id, band_id, band_hash FROM (
    SELECT *, COUNT(*) OVER (PARTITION BY band_id, band_hash) AS bsz FROM banded)
  WHERE bsz <= {g["max_bucket"]}
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM capped a JOIN capped b USING (band_id, band_hash)
  WHERE a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, COUNT(*) AS sz FROM shn GROUP BY doc_id),
inter AS (
  SELECT c.id_a, c.id_b, COUNT(*) AS inter
  FROM cand c
  JOIN shn a ON a.doc_id = c.id_a
  JOIN shn b ON b.doc_id = c.id_b AND b.shingle = a.shingle
  GROUP BY c.id_a, c.id_b
)
SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b,
       CAST(inter AS BIGINT) AS inter,
       CAST(sa.sz AS BIGINT) AS sz_a, CAST(sb.sz AS BIGINT) AS sz_b
FROM inter
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE inter * {fr.denominator} >= {fr.numerator} * (sa.sz + sb.sz - inter)"""


def q_simhash_sigs(spark, sf_dir):
    from .operators.dedup import simhash_signatures

    return simhash_signatures(_docs(spark, sf_dir)).select(
        F.col("doc_id").cast(_BIG).alias("doc_id"),
        F.col("simhash").cast(_BIG).alias("simhash"),
    )


def q_simhash_dups(spark, sf_dir):
    """SimHash near-dup pairs (Hamming <= 3 via 4x16-bit quarter blocking
    + capped buckets).  The oracle is BLOCKING-FREE (brute-force XOR +
    bit_count all-pairs): the 4-quarter pigeonhole makes the blocked path
    exact for Hamming <= 3, and at gate scale no bucket reaches the
    10k cap — so a hash match proves the LSH path loses nothing."""
    from .operators.dedup import simhash_near_duplicates

    p = simhash_near_duplicates(_docs(spark, sf_dir), max_hamming=3)
    return p.select(
        F.col("id_a").cast(_BIG).alias("id_a"),
        F.col("id_b").cast(_BIG).alias("id_b"),
        F.col("hamming").cast(_BIG).alias("hamming"),
    )


def _o_simhash_dups() -> str:
    return f"""
WITH sigs AS ({_o_simhash_sigs()}
)
SELECT CAST(a.doc_id AS BIGINT) AS id_a, CAST(b.doc_id AS BIGINT) AS id_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 3"""


def _o_simhash_sigs() -> str:
    votes = ",\n         ".join(
        f"SUM(CASE WHEN {_sql_affine('h', S.SIMHASH_A[k], S.SIMHASH_B[k])} * 2 >= {S.POLY_P} "
        f"THEN 1 ELSE -1 END) AS b{k}"
        for k in range(S.NUM_SIMHASH_BITS)
    )
    pack_terms = [
        f"(CASE WHEN b{i} > 0 THEN CAST({1 << i} AS BIGINT) ELSE 0 END)"
        for i in range(63)
    ]
    # bit 63 is the sign bit: add -(2^63) last so partial sums stay in range
    pack = (
        " + ".join(pack_terms)
        + " + (CASE WHEN b63 > 0 THEN -9223372036854775807 - 1 ELSE CAST(0 AS BIGINT) END)"
    )
    return f"""
WITH w AS (
  SELECT doc_id, string_split_regex(lower(text), '\\s+') AS words
  FROM documents WHERE text IS NOT NULL
),
toks AS (SELECT doc_id, unnest(words) AS tok FROM w),
tokf AS (SELECT doc_id, tok FROM toks WHERE tok <> ''),
hs AS (SELECT doc_id, {_sql_poly('tok')} AS h FROM tokf),
votes AS (SELECT doc_id,
         {votes}
        FROM hs GROUP BY doc_id)
SELECT CAST(doc_id AS BIGINT) AS doc_id, {pack} AS simhash
FROM votes"""


def _sql_dot(vexpr: str, plane: list[float]) -> str:
    lits = ", ".join(repr(float(x)) for x in plane)
    return (
        f"list_reduce(list_transform(list_zip({vexpr}, [{lits}]), x -> x[1] * x[2]), "
        f"(acc, x) -> acc + x)"
    )


def _sql_norm(vexpr: str) -> str:
    return f"sqrt(list_reduce(list_transform({vexpr}, x -> x * x), (acc, x) -> acc + x))"


def _sql_rhp_bits_and_bands(vexpr: str, cfg: dict = RHP_GATE) -> tuple[str, str]:
    """→ (bit column SQL, band CASE SQL) for a plane-set config."""
    planes = S.rhp_planes(cfg["dim"], cfg["num_planes"], cfg["seed"])
    bits = ",\n         ".join(
        f"(CASE WHEN {_sql_dot(vexpr, p)} >= 0 THEN 1 ELSE 0 END) AS bit{j}"
        for j, p in enumerate(planes)
    )
    rpb = cfg["num_planes"] // cfg["bands"]
    band_case = " ".join(
        "WHEN {b} THEN {expr}".format(
            b=b,
            expr=" + ".join(f"{1 << r} * bit{b * rpb + r}" for r in range(rpb)),
        )
        for b in range(cfg["bands"])
    )
    return bits, band_case


def q_rhp_ann(spark, sf_dir):
    from .operators.similarity import rhp_ann_topk

    emb = _emb(spark, sf_dir)
    t = rhp_ann_topk(emb, emb.where(F.col("vec_id") < 5), k=5, **RHP_GATE)
    return t.select(
        F.col("query_id").cast(_BIG).alias("query_id"),
        F.col("neighbor_id").cast(_BIG).alias("neighbor_id"),
        F.floor(F.col("cosine") * 1e9).cast(_BIG).alias("cos_e9"),
        F.col("rank").cast(_BIG).alias("rank"),
    )


def _o_rhp_ann() -> str:
    bits, band_case = _sql_rhp_bits_and_bands("v")
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
sig AS (SELECT vec_id,
         {bits}
        FROM e),
banded AS (
  SELECT vec_id, t.b AS band_id, CASE t.b {band_case} END AS band_val
  FROM sig, unnest(range(0, {RHP_GATE["bands"]})) AS t(b)
),
cand AS (
  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
  FROM banded c
  JOIN banded q ON c.band_id = q.band_id AND c.band_val = q.band_val
  WHERE q.vec_id < 5 AND c.vec_id <> q.vec_id
),
scored AS (
  SELECT cand.query_id, cand.neighbor_id,
         list_reduce(list_transform(list_zip(eq.v, ec.v), x -> x[1] * x[2]), (acc, x) -> acc + x)
         / ({_sql_norm("eq.v")} * {_sql_norm("ec.v")}) AS cosine
  FROM cand
  JOIN e eq ON eq.vec_id = cand.query_id
  JOIN e ec ON ec.vec_id = cand.neighbor_id
),
ranked AS (
  SELECT query_id, neighbor_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT CAST(query_id AS BIGINT) AS query_id, CAST(neighbor_id AS BIGINT) AS neighbor_id,
       CAST(FLOOR(cosine * 1e9) AS BIGINT) AS cos_e9, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= 5"""


WINNOW_GATE = dict(k=8, w=4)


def q_winnow_fp(spark, sf_dir):
    from .operators.textstats import winnow_fingerprints

    fp = winnow_fingerprints(_docs(spark, sf_dir), **WINNOW_GATE)
    return fp.select(
        F.col("doc_id").cast(_BIG).alias("doc_id"),
        F.col("fp").cast(_BIG).alias("fp"),
    )


def _o_winnow_fp() -> str:
    g = WINNOW_GATE
    poly = _sql_poly(f"substr(t, CAST(i AS INT), {g['k']})")
    return f"""
WITH t AS (
  SELECT doc_id, lower(text) AS t FROM documents
  WHERE text IS NOT NULL AND length(lower(text)) > 0
),
h AS (
  SELECT doc_id,
         list_transform(range(1, greatest(length(t) - {g["k"] - 1}, 1) + 1),
                        i -> {poly}) AS hs
  FROM t
),
sel AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, greatest(len(hs) - {g["w"] - 1}, 1) + 1),
                                      j -> list_min(hs[j:j+{g["w"] - 1}]))) AS fps
  FROM h
)
SELECT DISTINCT CAST(doc_id AS BIGINT) AS doc_id, CAST(unnest(fps) AS BIGINT) AS fp
FROM sel"""


def q_winnow_dups(spark, sf_dir):
    """Shift-tolerant near-dup pairs at fingerprint-Jaccard >= 0.3 with
    the max_df=50 boilerplate cut (both mirrored in the oracle)."""
    from .operators.dedup import winnow_near_duplicates

    pairs = winnow_near_duplicates(
        _docs(spark, sf_dir), threshold=0.3, max_df=50, **WINNOW_GATE
    )
    return pairs.select(
        F.col("id_a").cast(_BIG).alias("id_a"),
        F.col("id_b").cast(_BIG).alias("id_b"),
        F.col("inter").cast(_BIG).alias("inter"),
        F.col("sz_a").cast(_BIG).alias("sz_a"),
        F.col("sz_b").cast(_BIG).alias("sz_b"),
    )


def _o_winnow_dups() -> str:
    fr = Fraction("0.3")
    base = _o_winnow_fp()
    return f"""
WITH fp_all AS ({base}
)
, dfc AS (SELECT fp, COUNT(*) AS _df FROM fp_all GROUP BY fp),
fp AS (SELECT f.doc_id, f.fp FROM fp_all f JOIN dfc USING (fp) WHERE dfc._df <= 50),
sizes AS (SELECT doc_id, COUNT(*) AS sz FROM fp GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
  FROM fp a JOIN fp b USING (fp) WHERE a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b,
       CAST(inter AS BIGINT) AS inter,
       CAST(sa.sz AS BIGINT) AS sz_a, CAST(sb.sz AS BIGINT) AS sz_b
FROM inter
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE inter * {fr.denominator} >= {fr.numerator} * (sa.sz + sb.sz - inter)"""


def q_dedup_survivors(spark, sf_dir):
    """The pipeline dedup stage's keeper selection, gated end-to-end:
    winnow near-dup pairs → connected components over the pair graph →
    min-id keeper per component → survivors (everything not a loser).
    Same parameters as td_winnow_dups so the pair layer is pinned twice."""
    from .operators.dedup import near_dup_losers, winnow_near_duplicates

    docs = _docs(spark, sf_dir)
    pairs = winnow_near_duplicates(docs, threshold=0.3, max_df=50, **WINNOW_GATE)
    losers = near_dup_losers(pairs).select(F.col("id").alias("doc_id"))
    return (
        docs.select("doc_id")
        .join(losers, "doc_id", "left_anti")
        .select(F.col("doc_id").cast(_BIG).alias("doc_id"))
    )


def _o_dedup_survivors() -> str:
    fr = Fraction("0.3")
    base = _o_winnow_fp()
    return f"""
WITH RECURSIVE fp_all AS ({base}
),
dfc AS (SELECT fp, COUNT(*) AS _df FROM fp_all GROUP BY fp),
fp AS (SELECT f.doc_id, f.fp FROM fp_all f JOIN dfc USING (fp) WHERE dfc._df <= 50),
sizes AS (SELECT doc_id, COUNT(*) AS sz FROM fp GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
  FROM fp a JOIN fp b USING (fp) WHERE a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
),
pairs AS (
  SELECT id_a, id_b FROM inter
  JOIN sizes sa ON sa.doc_id = id_a
  JOIN sizes sb ON sb.doc_id = id_b
  WHERE inter * {fr.denominator} >= {fr.numerator} * (sa.sz + sb.sz - inter)
),
sym AS (SELECT id_a AS src, id_b AS dst FROM pairs
        UNION ALL SELECT id_b, id_a FROM pairs),
walk(node, lab) AS (
  SELECT DISTINCT src, src FROM sym
  UNION
  SELECT w.node, e.dst FROM walk w JOIN sym e ON e.src = w.lab
),
comp AS (SELECT node, MIN(lab) AS root FROM walk GROUP BY node)
SELECT CAST(doc_id AS BIGINT) AS doc_id FROM documents
WHERE doc_id NOT IN (SELECT node FROM comp WHERE node <> root)"""


def q_tfidf_topk(spark, sf_dir):
    """Per-doc keyword extraction: top-3 terms by linear-idf tf-idf
    (score = tf * N / df, floored at 1e6 scale — exact integer ratio in
    both engines)."""
    from .operators.textstats import tfidf_top_terms

    t = tfidf_top_terms(_docs(spark, sf_dir), k=3)
    return t.select(
        F.col("doc_id").cast(_BIG).alias("doc_id"),
        "term",
        F.col("rank").cast(_BIG).alias("rank"),
        F.col("score_e6").cast(_BIG).alias("score_e6"),
    )


O_TFIDF_TOPK = """
WITH toks AS (
  SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '\\s+'),
                                    x -> x <> '')) AS term
  FROM documents WHERE text IS NOT NULL
),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term),
dft AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
nd AS (SELECT COUNT(*) AS n_docs FROM documents WHERE text IS NOT NULL),
scored AS (
  SELECT doc_id, term,
         CAST(FLOOR(tf * n_docs * 1000000 / df) AS BIGINT) AS score_e6
  FROM tf JOIN dft USING (term), nd
),
ranked AS (
  SELECT doc_id, term, score_e6,
         ROW_NUMBER() OVER (PARTITION BY doc_id
                            ORDER BY score_e6 DESC, term ASC) AS rank
  FROM scored
)
SELECT CAST(doc_id AS BIGINT) AS doc_id, term, CAST(rank AS BIGINT) AS rank,
       score_e6
FROM ranked WHERE rank <= 3"""


def q_hash_sample(spark, sf_dir):
    """Deterministic 10% corpus sample by key hash (sketches.hash_sample)
    — same keys land in the sample across engines/runs/partitionings;
    the pushdown-friendly filter form of reproducible train/holdout
    splitting."""
    from .operators.sketches import hash_sample

    d = _docs(spark, sf_dir).select("doc_id")
    return hash_sample(d, "doc_id", percent=10).select(
        F.col("doc_id").cast(_BIG).alias("doc_id")
    )


def _o_hash_sample() -> str:
    h = _sql_affine(f"(doc_id % {S.POLY_P})", S.MINHASH_A[1], S.MINHASH_B[1])
    return f"""
SELECT CAST(doc_id AS BIGINT) AS doc_id FROM documents
WHERE ({h}) % 100 < 10"""


def q_kmv_distinct(spark, sf_dir):
    """Deterministic KMV cardinality sketch: distinct (doc, token)
    incidences per language, k=64.  The synthetic corpus has only 31
    distinct tokens (which would always hit the exact m < k branch), so
    the gated value is the doc:token pair — thousands per language,
    forcing the estimator branch; the exact branch is pytest-pinned
    (test_sketches)."""
    from .operators.sketches import kmv_distinct

    toks = (
        _docs(spark, sf_dir)
        .where(F.col("text").isNotNull())
        .select(
            "lang",
            "doc_id",
            F.explode(
                F.filter(F.split(F.lower(F.col("text")), r"\s+"), lambda x: x != "")
            ).alias("_t"),
        )
        .select(
            "lang",
            F.concat(F.col("doc_id").cast("string"), F.lit(":"), F.col("_t")).alias("tok"),
        )
    )
    s = kmv_distinct(toks, "lang", "tok", k=64)
    return s.select("lang", F.col("kmv_distinct").cast(_BIG).alias("kmv_distinct"))


def _o_kmv_distinct() -> str:
    from . import semantics as _S

    return f"""
WITH toks AS (
  SELECT lang,
         CAST(doc_id AS VARCHAR) || ':' ||
         unnest(list_filter(string_split_regex(lower(text), '\\s+'),
                            x -> x <> '')) AS tok
  FROM documents WHERE text IS NOT NULL
),
hs AS (SELECT DISTINCT lang,
       {_sql_affine(_sql_poly('tok'), _S.MINHASH_A[0], _S.MINHASH_B[0])} AS h
       FROM toks),
ranked AS (
  SELECT lang, h, ROW_NUMBER() OVER (PARTITION BY lang ORDER BY h) AS rn FROM hs
),
agg AS (
  SELECT lang, MAX(CASE WHEN rn = 64 THEN h END) AS hk, COUNT(*) AS m
  FROM ranked WHERE rn <= 64 GROUP BY lang
)
SELECT lang,
       CAST(CASE WHEN m < 64 THEN m
                 ELSE FLOOR({63 * _S.POLY_P} / hk) END AS BIGINT) AS kmv_distinct
FROM agg"""


IVF_GATE = dict(n_centroids=16, n_probe=4)


def q_ivf_ann(spark, sf_dir):
    from .operators.similarity import ivf_ann_topk

    emb = _emb(spark, sf_dir)
    t = ivf_ann_topk(emb, emb.where(F.col("vec_id") < 5), k=5, **IVF_GATE)
    return t.select(
        F.col("query_id").cast(_BIG).alias("query_id"),
        F.col("neighbor_id").cast(_BIG).alias("neighbor_id"),
        F.floor(F.col("cosine") * 1e9).cast(_BIG).alias("cos_e9"),
        F.col("rank").cast(_BIG).alias("rank"),
    )


def _o_ivf_ann() -> str:
    cos = (
        "list_reduce(list_transform(list_zip({a}, {b}), x -> x[1] * x[2]), (acc, x) -> acc + x)"
        " / ({na} * {nb})"
    )
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
cent AS (
  -- id reduced mod P before the affine multiply (mirrors the Spark pmod:
  -- raw ids beyond ~9e9 or negative would overflow A·id in int64)
  SELECT vec_id AS centroid_id, v AS centroid FROM e
  ORDER BY ({S.MINHASH_A[0]} * (((vec_id % {S.POLY_P}) + {S.POLY_P}) % {S.POLY_P}) + {S.MINHASH_B[0]}) % {S.POLY_P} ASC, vec_id ASC
  LIMIT {IVF_GATE["n_centroids"]}
),
ascore AS (
  SELECT e.vec_id AS id, e.v, c.centroid_id,
         {cos.format(a="e.v", b="c.centroid", na=_sql_norm("e.v"), nb=_sql_norm("c.centroid"))} AS c_cos
  FROM e CROSS JOIN cent c
),
ranked_cells AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY id ORDER BY c_cos DESC, centroid_id ASC) AS rn
  FROM ascore
),
assigned AS (SELECT id AS neighbor_id, v AS cv, centroid_id FROM ranked_cells WHERE rn = 1),
probes AS (
  SELECT id AS query_id, v AS qv, centroid_id FROM ranked_cells
  WHERE rn <= {IVF_GATE["n_probe"]} AND id < 5
),
cand AS (
  SELECT DISTINCT p.query_id, p.qv, a.neighbor_id, a.cv
  FROM assigned a JOIN probes p USING (centroid_id)
  WHERE a.neighbor_id <> p.query_id
),
scored AS (
  SELECT query_id, neighbor_id,
         {cos.format(a="qv", b="cv", na=_sql_norm("qv"), nb=_sql_norm("cv"))} AS cosine
  FROM cand
),
ranked AS (
  SELECT query_id, neighbor_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT CAST(query_id AS BIGINT) AS query_id, CAST(neighbor_id AS BIGINT) AS neighbor_id,
       CAST(FLOOR(cosine * 1e9) AS BIGINT) AS cos_e9, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= 5"""


def _augmented_embeddings(spark, sf_dir):
    """Embeddings ∪ perturbed twins (v·1.01 + 0.01, elementwise double
    arithmetic — identical in both engines) for vec_id < EMB_PERTURB_N:
    the synthetic corpus has no natural near-dup pairs (max pairwise cosine
    ≈ 0.51), so the gate injects deterministic ones — same seeding
    precedent as kg_open_triples."""
    emb = _emb(spark, sf_dir).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    pert = emb.where(F.col("vec_id") < EMB_PERTURB_N).select(
        (F.col("vec_id") + EMB_PERTURB_ID_OFFSET).alias("vec_id"),
        F.transform(
            F.col("embedding"), lambda x: x * F.lit(1.01) + F.lit(0.01)
        ).alias("embedding"),
    )
    return emb.unionByName(pert)


def q_emb_near_dup(spark, sf_dir):
    from .operators.similarity import embedding_near_duplicates

    pairs = embedding_near_duplicates(
        _augmented_embeddings(spark, sf_dir),
        threshold=EMB_NEAR_DUP_THRESHOLD,
        max_bucket=10_000,
        **EMB_GATE,
    )
    return pairs.select(
        F.col("id_a").cast(_BIG).alias("id_a"),
        F.col("id_b").cast(_BIG).alias("id_b"),
        F.floor(F.col("cosine") * 1e9).cast(_BIG).alias("cos_e9"),
    )


def _o_emb_near_dup() -> str:
    bits, band_case = _sql_rhp_bits_and_bands("v", EMB_GATE)
    return f"""
WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
pert AS (
  SELECT vec_id + {EMB_PERTURB_ID_OFFSET} AS vec_id,
         list_transform(v, x -> x * CAST(1.01 AS DOUBLE) + CAST(0.01 AS DOUBLE)) AS v
  FROM base WHERE vec_id < {EMB_PERTURB_N}
),
e AS (SELECT * FROM base UNION ALL SELECT * FROM pert),
sig AS (SELECT vec_id,
         {bits}
        FROM e),
banded AS (
  SELECT vec_id, t.b AS band_id, CASE t.b {band_case} END AS band_val
  FROM sig, unnest(range(0, {EMB_GATE["bands"]})) AS t(b)
),
capped AS (
  SELECT vec_id, band_id, band_val FROM (
    SELECT *, COUNT(*) OVER (PARTITION BY band_id, band_val) AS bsz FROM banded)
  WHERE bsz <= 10000
),
pairs AS (
  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
  FROM capped a JOIN capped b USING (band_id, band_val)
  WHERE a.vec_id < b.vec_id
),
scored AS (
  SELECT id_a, id_b,
         list_reduce(list_transform(list_zip(ea.v, eb.v), x -> x[1] * x[2]), (acc, x) -> acc + x)
         / ({_sql_norm("ea.v")} * {_sql_norm("eb.v")}) AS cosine
  FROM pairs
  JOIN e ea ON ea.vec_id = id_a
  JOIN e eb ON eb.vec_id = id_b
)
SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b,
       CAST(FLOOR(cosine * 1e9) AS BIGINT) AS cos_e9
FROM scored WHERE cosine >= CAST(0.95 AS DOUBLE)"""



# ---------------------------------------------------------------------------
# Curation reports + stratified sampling (round 4) and the textstats
# micro-gate suite (frees driver-window slots for the new gates; the
# individual gates stay hash-checked by scripts/check_gate.py).
# ---------------------------------------------------------------------------

from . import semantics as _S2  # noqa: E402
from .gate_suites import suite_oracle as _suite_oracle  # noqa: E402
from .gate_suites import suite_query as _suite_query  # noqa: E402


def q_stratified_sample(spark, sf_dir):
    """Deterministic "k docs per domain" downsampling
    (sketches.stratified_sample_topk, k=10 per source, salt 2): the k
    rows with the smallest affine-permuted doc_id hash per group.  The
    oracle restates the identical hash + ROW_NUMBER rank."""
    from .operators.sketches import stratified_sample_topk

    d = _docs(spark, sf_dir).select("source", "doc_id")
    out = stratified_sample_topk(d, "source", "doc_id", k=10, salt=2)
    return out.select("source", F.col("doc_id").cast(_BIG).alias("doc_id"))


def _o_stratified_sample() -> str:
    h = _sql_affine(f"(doc_id % {_S2.POLY_P})", _S2.MINHASH_A[2], _S2.MINHASH_B[2])
    return f"""
WITH ranked AS (
  SELECT source, doc_id,
         ROW_NUMBER() OVER (PARTITION BY source ORDER BY {h}, doc_id) AS rn
  FROM documents
)
SELECT source, CAST(doc_id AS BIGINT) AS doc_id FROM ranked WHERE rn <= 10"""


def q_corpus_stats(spark, sf_dir):
    """Corpus composition report (textstats.corpus_stats): per
    (source, lang) doc count, char/token totals, and curation-grade doc
    count (quality_pct >= semantics.QUALITY_OK_PCT)."""
    from .operators.textstats import corpus_stats

    return corpus_stats(_docs(spark, sf_dir)).select(
        "source",
        "lang",
        F.col("n_docs").cast(_BIG).alias("n_docs"),
        F.col("sum_chars").cast(_BIG).alias("sum_chars"),
        F.col("sum_ws_tokens").cast(_BIG).alias("sum_ws_tokens"),
        F.col("n_quality_ok").cast(_BIG).alias("n_quality_ok"),
    )


O_CORPUS_STATS = f"""
WITH base AS (
  SELECT source, lang, coalesce(text, '') AS t, lower(coalesce(text, '')) AS lt
  FROM documents
),
m AS (
  SELECT source, lang,
         CAST(length(t) AS BIGINT) AS n_chars,
         CAST(len(list_filter(string_split_regex(lt, '\\s+'), x -> x <> '')) AS BIGINT) AS n_words,
         CAST(length(regexp_replace(lt, '[^a-z]', '', 'g')) AS BIGINT) AS n_alpha
  FROM base
),
m2 AS (
  SELECT *,
         CASE WHEN n_words > 0 THEN CAST(FLOOR(n_alpha * 100 / n_words) AS BIGINT) ELSE 0 END AS mwl,
         CASE WHEN n_chars > 0 THEN CAST(FLOOR(n_alpha * 50 / n_chars) AS BIGINT) ELSE 0 END AS alpha_c,
         LEAST(CAST(20 AS BIGINT), CAST(FLOOR(n_chars / 50) AS BIGINT)) AS len_c
  FROM m
),
q AS (
  SELECT source, lang, n_chars, n_words,
         alpha_c
         + (CASE WHEN mwl BETWEEN 300 AND 800 THEN 30
                 WHEN mwl >= 200 AND mwl < 300 THEN 15 ELSE 0 END)
         + len_c AS quality_pct
  FROM m2
)
SELECT source, lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       CAST(SUM(n_words) AS BIGINT) AS sum_ws_tokens,
       CAST(SUM(CASE WHEN quality_pct >= {_S2.QUALITY_OK_PCT} THEN 1 ELSE 0 END) AS BIGINT) AS n_quality_ok
FROM q GROUP BY source, lang"""


def q_dedup_rate(spark, sf_dir):
    """Per-source exact-duplicate report (dedup.dedup_rate_by_group):
    global min-doc_id keeper per content hash, losers charged to their
    own source."""
    from .operators.dedup import dedup_rate_by_group

    return dedup_rate_by_group(_docs(spark, sf_dir)).select(
        "source",
        F.col("n_docs").cast(_BIG).alias("n_docs"),
        F.col("n_dup_rows").cast(_BIG).alias("n_dup_rows"),
        F.col("n_keepers").cast(_BIG).alias("n_keepers"),
    )


O_DEDUP_RATE = """
WITH nn AS (
  SELECT source, doc_id, md5(text) AS h FROM documents WHERE text IS NOT NULL
),
keep AS (SELECT h, MIN(doc_id) AS keeper FROM nn GROUP BY h),
flagged AS (
  SELECT nn.source, nn.doc_id, (nn.doc_id = k.keeper) AS is_keeper
  FROM nn JOIN keep k USING (h)
  UNION ALL
  SELECT source, doc_id, TRUE FROM documents WHERE text IS NULL
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN is_keeper THEN 0 ELSE 1 END) AS BIGINT) AS n_dup_rows,
       CAST(SUM(CASE WHEN is_keeper THEN 1 ELSE 0 END) AS BIGINT) AS n_keepers
FROM flagged GROUP BY source"""


#: the 4 per-doc textstats micro-gates folded into one driver suite
#: (same mechanism as the rel_* suites; column lists restate each member
#: query's select order — pytest-pinned)
_TEXTSTATS_SUITE = [
    ("lang_id", q_lang_id, O_LANG_ID, ["doc_id", "detected_lang"]),
    ("quality", q_quality, O_QUALITY,
     ["doc_id", "n_chars", "n_words", "n_alpha", "n_punct", "stop_hits",
      "mean_word_len_x100", "quality_pct"]),
    ("token_count", q_token_count, O_TOKEN_COUNT,
     ["doc_id", "ws_tokens", "bpe_tokens"]),
    ("fingerprint", q_fingerprint, O_FINGERPRINT, ["doc_id", "fp"]),
]

q_textstats_suite = _suite_query(_TEXTSTATS_SUITE)
O_TEXTSTATS_SUITE = _suite_oracle(_TEXTSTATS_SUITE)

#: simhash signatures + near-dup pairs folded into one driver slot
#: (round 6: their two windows paid for kg_stream_mentions — the
#: streaming drain's CORRECTNESS row; both members still swept
#: individually by check_gate via TEXT_MICRO_*)
_SIMHASH_SUITE = [
    ("simhash_sigs", q_simhash_sigs, _o_simhash_sigs(), ["doc_id", "simhash"]),
    ("simhash_dups", q_simhash_dups, _o_simhash_dups(), ["id_a", "id_b", "hamming"]),
]

q_simhash_suite = _suite_query(_SIMHASH_SUITE)
O_SIMHASH_SUITE = _suite_oracle(_SIMHASH_SUITE)

#: the folded micro-gates, still individually swept by check_gate.py
#: (sampling gates ride gate_curation's td_sampling_suite since round 5
#: — their window slots went to the url/curation suites)
TEXT_MICRO_QUERIES = {
    "td_lang_id": q_lang_id,
    "td_quality": q_quality,
    "td_token_count": q_token_count,
    "td_fingerprint": q_fingerprint,
    "td_stratified_sample": q_stratified_sample,
    "td_kmv_distinct": q_kmv_distinct,
    "td_hash_sample": q_hash_sample,
    "td_simhash_sigs": q_simhash_sigs,
    "td_simhash_dups": q_simhash_dups,
}

TEXT_MICRO_ORACLES = {
    "td_lang_id": O_LANG_ID,
    "td_quality": O_QUALITY,
    "td_token_count": O_TOKEN_COUNT,
    "td_fingerprint": O_FINGERPRINT,
    "td_stratified_sample": _o_stratified_sample(),
    "td_kmv_distinct": _o_kmv_distinct(),
    "td_hash_sample": _o_hash_sample(),
    "td_simhash_sigs": _o_simhash_sigs(),
    "td_simhash_dups": _o_simhash_dups(),
}


TEXT_QUERIES = {
    "td_exact_dup": q_exact_dup,
    "td_ngram_jaccard": q_ngram_jaccard,
    "td_textstats_suite": q_textstats_suite,
    "td_corpus_stats": q_corpus_stats,
    "td_dedup_rate": q_dedup_rate,
    "td_ann_cosine_topk": q_ann_cosine_topk,
    "td_minhash_dups": q_minhash_dups,
    "td_simhash_suite": q_simhash_suite,
    "td_rhp_ann_topk": q_rhp_ann,
    "td_ivf_ann_topk": q_ivf_ann,
    "td_emb_near_dup": q_emb_near_dup,
    "td_winnow_fp": q_winnow_fp,
    "td_winnow_dups": q_winnow_dups,
    "td_dedup_survivors": q_dedup_survivors,
    "td_tfidf_topk": q_tfidf_topk,
}

TEXT_ORACLES = {
    "td_exact_dup": O_EXACT_DUP,
    "td_ngram_jaccard": O_NGRAM_JACCARD,
    "td_textstats_suite": O_TEXTSTATS_SUITE,
    "td_corpus_stats": O_CORPUS_STATS,
    "td_dedup_rate": O_DEDUP_RATE,
    "td_ann_cosine_topk": O_ANN_COSINE,
    # LSH suites: oracled via the portable poly/affine hash family and
    # inlined RHP plane literals — the ENTIRE pipeline (signatures, band
    # buckets, bucket cap, candidate pairs, verify) is replicated in SQL,
    # so the hash compare pins candidate generation, not just the verdict
    "td_minhash_dups": _o_minhash_dups(),
    "td_simhash_suite": O_SIMHASH_SUITE,
    "td_rhp_ann_topk": _o_rhp_ann(),
    "td_ivf_ann_topk": _o_ivf_ann(),
    "td_emb_near_dup": _o_emb_near_dup(),
    "td_winnow_fp": _o_winnow_fp(),
    "td_winnow_dups": _o_winnow_dups(),
    "td_dedup_survivors": _o_dedup_survivors(),
    "td_tfidf_topk": O_TFIDF_TOPK,
}

