"""DuckDB oracle SQL for the training-data pipeline operators
(dedup / similarity / text analysis) — exact replays of the Spark operators
using the shared portable hash and identical fold orders (DuckDB's list_sum
is a sequential left fold, verified)."""

from __future__ import annotations

from sketches_go_spark.operators.dedup import minhash_salt
from sketches_go_spark.operators.similarity import hyperplane
from sketches_go_spark.operators.text import (
    LANG_MARKERS,
    doc_fingerprint_sql,
    occurrences_sql,
    quality_features_sql,
    repetition_features_sql,
    winnow_fingerprints_sql,
)


def _hash_sql(expr: str, salt: str = "") -> str:
    inner = f"concat('{salt}', cast({expr} as string))"
    return f"cast(concat('0x', substr(md5({inner}), 1, 15)) as bigint)"


# ------------------------------------------------------------------- text ops
def quality_features_oracle(src: str = "documents") -> str:
    cols = quality_features_sql("text")
    sel = ", ".join(f"{expr} AS {name}" for name, expr in cols.items())
    return f"SELECT doc_id, {sel} FROM {src} ORDER BY doc_id"


def langid_markers_oracle(src: str = "documents") -> str:
    padded = "concat(' ', lower(trim(text)), ' ')"
    score_exprs = {
        lang: " + ".join(occurrences_sql(padded, f" {w} ") for w in LANG_MARKERS[lang])
        for lang in sorted(LANG_MARKERS)
    }
    best = "greatest(" + ", ".join(f"({s})" for s in score_exprs.values()) + ")"
    pick = "'und'"
    for lang in sorted(LANG_MARKERS, reverse=True):
        pick = (
            f"CASE WHEN ({score_exprs[lang]}) = sgs_best THEN '{lang}' ELSE {pick} END"
        )
    return f"""SELECT doc_id, CASE WHEN sgs_best > 0 THEN {pick} ELSE 'und' END AS lang_pred
FROM (SELECT doc_id, text, {best} AS sgs_best FROM {src})
ORDER BY doc_id"""


def exact_dedup_oracle(src: str = "documents") -> str:
    fp = doc_fingerprint_sql("text")
    return f"""SELECT doc_id, fingerprint,
       doc_id = min(doc_id) OVER (PARTITION BY fingerprint) AS is_canonical
FROM (SELECT doc_id, {fp} AS fingerprint FROM {src})
ORDER BY doc_id"""


# ------------------------------------------------------------------ shingling
def _shingle_cte(src: str, n: int = 3) -> str:
    """(doc_id, shingle) distinct relation: word n-grams."""
    words = "string_split(lower(trim(text)), ' ')"
    grams = (
        f"list_transform(range(1, greatest(len({words}) - {n - 1}, 0) + 1), "
        f"i -> concat("
        + ", ' ', ".join(f"({words})[i + {j}]" for j in range(n))
        + "))"
    )
    return f"""sgs_sh AS (
  SELECT DISTINCT doc_id, unnest({grams}) AS shingle FROM {src}
)"""


def ngram_jaccard_oracle(
    src: str = "documents", n: int = 3, threshold: float = 0.2, df_cap: int = 1000
) -> str:
    return f"""WITH {_shingle_cte(src, n)},
sgs_sizes AS (SELECT doc_id, count(*) AS sz FROM sgs_sh GROUP BY doc_id),
sgs_rare AS (
  SELECT shingle FROM sgs_sh GROUP BY shingle HAVING count(*) <= {df_cap}
),
sgs_shr AS (SELECT s.* FROM sgs_sh s JOIN sgs_rare USING (shingle)),
sgs_common AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common
  FROM sgs_shr a JOIN sgs_shr b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT id_a, id_b,
       round(common / (sa.sz + sb.sz - common), 6) AS jaccard
FROM sgs_common
JOIN sgs_sizes sa ON sa.doc_id = id_a
JOIN sgs_sizes sb ON sb.doc_id = id_b
WHERE round(common / (sa.sz + sb.sz - common), 6) >= {threshold}
ORDER BY id_a, id_b"""


def minhash_lsh_oracle(
    src: str = "documents",
    n: int = 3,
    num_perm: int = 16,
    band_size: int = 4,
    threshold: float = 0.2,
) -> str:
    n_bands = num_perm // band_size
    sig_cols = ", ".join(
        f"min({_hash_sql('shingle', minhash_salt(j))}) AS sig_{j}"
        for j in range(num_perm)
    )
    band_rows = "\nUNION ALL\n".join(
        f"SELECT doc_id, {b} AS band, "
        + _hash_sql(
            "concat_ws('_', "
            + ", ".join(
                f"cast(sig_{b * band_size + i} AS string)" for i in range(band_size)
            )
            + ")",
            "band:",
        )
        + " AS bucket FROM sgs_sigs"
        for b in range(n_bands)
    )
    return f"""WITH {_shingle_cte(src, n)},
sgs_sizes AS (SELECT doc_id, count(*) AS sz FROM sgs_sh GROUP BY doc_id),
sgs_sigs AS (SELECT doc_id, {sig_cols} FROM sgs_sh GROUP BY doc_id),
sgs_buckets AS ({band_rows}),
sgs_cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM sgs_buckets a
  JOIN sgs_buckets b ON a.band = b.band AND a.bucket = b.bucket
                     AND a.doc_id < b.doc_id
),
sgs_common AS (
  SELECT c.id_a, c.id_b, count(*) AS common
  FROM sgs_cand c
  JOIN sgs_sh sa ON sa.doc_id = c.id_a
  JOIN sgs_sh sb ON sb.doc_id = c.id_b AND sb.shingle = sa.shingle
  GROUP BY c.id_a, c.id_b
)
SELECT id_a, id_b, round(common / (sa.sz + sb.sz - common), 6) AS jaccard
FROM sgs_common
JOIN sgs_sizes sa ON sa.doc_id = id_a
JOIN sgs_sizes sb ON sb.doc_id = id_b
WHERE round(common / (sa.sz + sb.sz - common), 6) >= {threshold}
ORDER BY id_a, id_b"""


def minhash_buckets_oracle(
    src: str = "documents",
    n: int = 3,
    num_perm: int = 16,
    band_size: int = 4,
) -> str:
    """Batch replay of streaming_minhash_buckets: same signatures, same band
    hashing, (band, bucket) min/count summary."""
    n_bands = num_perm // band_size
    sig_cols = ", ".join(
        f"min({_hash_sql('shingle', minhash_salt(j))}) AS sig_{j}"
        for j in range(num_perm)
    )
    band_rows = "\nUNION ALL\n".join(
        f"SELECT doc_id, cast({b} AS int) AS band, "
        + _hash_sql(
            "concat_ws('_', "
            + ", ".join(
                f"cast(sig_{b * band_size + i} AS string)" for i in range(band_size)
            )
            + ")",
            "band:",
        )
        + " AS bucket FROM sgs_sigs"
        for b in range(n_bands)
    )
    return f"""WITH {_shingle_cte(src, n)},
sgs_sigs AS (SELECT doc_id, {sig_cols} FROM sgs_sh GROUP BY doc_id),
sgs_buckets AS ({band_rows})
SELECT band, bucket, min(doc_id) AS canonical_id, count(*) AS n_docs
FROM sgs_buckets GROUP BY band, bucket
ORDER BY band, bucket"""


def simhash_oracle(src: str = "documents", bits: int = 60) -> str:
    h = _hash_sql("tok", "sh:")
    votes = ", ".join(
        f"sum(CASE WHEN (({h}) >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS b{i}"
        for i in range(bits)
    )
    sig = " + ".join(f"(CASE WHEN b{i} > 0 THEN {1 << i} ELSE 0 END)" for i in range(bits))
    return f"""WITH sgs_toks AS (
  SELECT doc_id, unnest(string_split(lower(trim(text)), ' ')) AS tok FROM {src}
),
sgs_votes AS (SELECT doc_id, {votes} FROM sgs_toks GROUP BY doc_id)
SELECT doc_id, cast({sig} AS bigint) AS simhash FROM sgs_votes ORDER BY doc_id"""


def simhash_pairs_oracle(
    src: str = "documents", bits: int = 60, max_hamming: int = 3,
    block_col: str = "lang",
) -> str:
    base = simhash_oracle(src, bits).rsplit("ORDER BY", 1)[0]
    return f"""WITH sgs_simhash AS ({base}),
sgs_blocked AS (
  SELECT s.doc_id, s.simhash, d.{block_col} AS blk
  FROM sgs_simhash s JOIN {src} d USING (doc_id)
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       cast(bit_count(xor(a.simhash, b.simhash)) AS int) AS hamming
FROM sgs_blocked a
JOIN sgs_blocked b ON a.blk = b.blk AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {max_hamming}
ORDER BY id_a, id_b"""


def simhash_pairs_global_oracle(
    src: str = "documents", bits: int = 60, max_hamming: int = 3
) -> str:
    """Ground-truth all-pairs hamming filter — a valid oracle for the Spark
    operator precisely because its pigeonhole blocking is lossless (the
    operator's output IS the exact pair set)."""
    base = simhash_oracle(src, bits).rsplit("ORDER BY", 1)[0]
    return f"""WITH sgs_simhash AS ({base})
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       cast(bit_count(xor(a.simhash, b.simhash)) AS int) AS hamming
FROM sgs_simhash a
JOIN sgs_simhash b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {max_hamming}
ORDER BY id_a, id_b"""


def components_oracle(
    src: str = "documents", bits: int = 60, max_hamming: int = 3
) -> str:
    """Transitive closure of the exact simhash near-dup pair set via a
    recursive CTE: min reachable doc_id per node.  The ``r.lbl < e.v`` prune
    is lossless for the min — the component minimum m initializes as (m, m)
    and m < v for every other member v, so m still reaches everyone.

    The pair and edge CTEs are ``MATERIALIZED``: DuckDB otherwise inlines
    the self-join that finds the pairs into every step of the recursion
    (sf0.001, DuckDB 1.0: 12.7 s → 1.8 s, the same rows)."""
    base = simhash_oracle(src, bits).rsplit("ORDER BY", 1)[0]
    return f"""WITH RECURSIVE sgs_simhash AS ({base}),
sgs_pairs AS MATERIALIZED (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM sgs_simhash a
  JOIN sgs_simhash b ON a.doc_id < b.doc_id
  WHERE bit_count(xor(a.simhash, b.simhash)) <= {max_hamming}
),
sgs_edges AS MATERIALIZED (
  SELECT id_a AS u, id_b AS v FROM sgs_pairs
  UNION SELECT id_b AS u, id_a AS v FROM sgs_pairs
),
sgs_reach(node, lbl) AS (
  SELECT DISTINCT u, u FROM sgs_edges
  UNION
  SELECT e.v, r.lbl FROM sgs_reach r JOIN sgs_edges e ON e.u = r.node
  WHERE r.lbl < e.v
),
sgs_comp AS (SELECT node, min(lbl) AS component FROM sgs_reach GROUP BY node)
SELECT d.doc_id,
       coalesce(c.component, d.doc_id) AS component,
       count(*) OVER (PARTITION BY coalesce(c.component, d.doc_id)) AS csize
FROM {src} d
LEFT JOIN sgs_comp c ON c.node = d.doc_id
ORDER BY doc_id"""


def canonical_docs_oracle(
    src: str = "documents", bits: int = 60, max_hamming: int = 3
) -> str:
    """Replay of the dedup capstone: simhash closure components + quality
    scores + per-component argmax (max rounded quality, tie -> min id)."""
    base = simhash_oracle(src, bits).rsplit("ORDER BY", 1)[0]
    qs = quality_features_sql("text")["quality_score"]
    return f"""WITH RECURSIVE sgs_simhash AS ({base}),
sgs_pairs AS MATERIALIZED (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM sgs_simhash a
  JOIN sgs_simhash b ON a.doc_id < b.doc_id
  WHERE bit_count(xor(a.simhash, b.simhash)) <= {max_hamming}
),
sgs_edges AS MATERIALIZED (
  SELECT id_a AS u, id_b AS v FROM sgs_pairs
  UNION SELECT id_b AS u, id_a AS v FROM sgs_pairs
),
sgs_reach(node, lbl) AS (
  SELECT DISTINCT u, u FROM sgs_edges
  UNION
  SELECT e.v, r.lbl FROM sgs_reach r JOIN sgs_edges e ON e.u = r.node
  WHERE r.lbl < e.v
),
sgs_comp AS (SELECT node, min(lbl) AS component FROM sgs_reach GROUP BY node),
sgs_lab AS (
  SELECT d.doc_id, coalesce(c.component, d.doc_id) AS component, {qs} AS qs
  FROM {src} d LEFT JOIN sgs_comp c ON c.node = d.doc_id
),
sgs_canon AS (
  SELECT component, doc_id AS canonical_id,
         row_number() OVER (PARTITION BY component
                            ORDER BY qs DESC, doc_id ASC) AS rn
  FROM sgs_lab
)
SELECT l.doc_id, l.component, cc.canonical_id,
       l.doc_id = cc.canonical_id AS is_canonical
FROM sgs_lab l
JOIN (SELECT component, canonical_id FROM sgs_canon WHERE rn = 1) cc
  USING (component)
ORDER BY doc_id"""


# ----------------------------------------------------------------- similarity
def _dot_sql(a: str, b: str, dim: int) -> str:
    return (
        f"list_sum(list_transform(range(1, {dim + 1}), "
        f"i -> cast(({a})[i] AS double) * cast(({b})[i] AS double)))"
    )


def _norm_sql(a: str, dim: int) -> str:
    return (
        f"sqrt(list_sum(list_transform(range(1, {dim + 1}), "
        f"i -> cast(({a})[i] AS double) * cast(({a})[i] AS double))))"
    )


def _cos_sql(a: str, b: str, dim: int, decimals: int = 4) -> str:
    return (
        f"round({_dot_sql(a, b, dim)} / ({_norm_sql(a, dim)} * {_norm_sql(b, dim)}),"
        f" {decimals})"
    )


def brute_force_topk_oracle(
    src: str = "embeddings", n_queries: int = 5, k: int = 5, dim: int = 64
) -> str:
    cos = _cos_sql("q.embedding", "v.embedding", dim)
    return f"""WITH sgs_q AS (SELECT vec_id AS query_id, embedding FROM {src} WHERE vec_id < {n_queries}),
sgs_sims AS (
  SELECT q.query_id, v.vec_id, {cos} AS sim
  FROM {src} v CROSS JOIN sgs_q q
),
sgs_ranked AS (
  SELECT query_id, vec_id, sim,
         cast(row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id ASC) AS int) AS rank
  FROM sgs_sims
)
SELECT query_id, rank, vec_id, sim FROM sgs_ranked WHERE rank <= {k}
ORDER BY query_id, rank"""


def _plane_literal(j: int, dim: int) -> str:
    return "[" + ", ".join(repr(x) for x in hyperplane(j, dim)) + "]"


def _band_key_sql(vec: str, band: int, band_bits: int, dim: int) -> str:
    """One band's bucket key: sign bits of planes band*band_bits + i —
    identical global plane indexing to operators.similarity.band_planes."""
    terms = []
    for i in range(band_bits):
        proj = _dot_sql(vec, _plane_literal(band * band_bits + i, dim), dim)
        terms.append(f"(CASE WHEN {proj} > 0 THEN {1 << i} ELSE 0 END)")
    return "cast(" + " + ".join(terms) + " AS bigint)"


def _band_key_cols(vec: str, n_bands: int, band_bits: int, dim: int) -> str:
    return ", ".join(
        f"{_band_key_sql(vec, b, band_bits, dim)} AS k{b}" for b in range(n_bands)
    )


def lsh_ann_topk_oracle(
    src: str = "embeddings",
    n_queries: int = 5,
    k: int = 5,
    n_bands: int = 4,
    band_bits: int = 8,
    dim: int = 64,
    multi_probe: bool = True,
) -> str:
    """Banded-LSH candidate semantics: candidate iff some band's keys are
    within hamming <= 1 (multi-probe) / == 0 of the query's."""
    max_h = 1 if multi_probe else 0
    cond = " OR ".join(
        f"bit_count(xor(v.k{b}, q.k{b})) <= {max_h}" for b in range(n_bands)
    )
    cos = _cos_sql("q.embedding", "v.embedding", dim)
    return f"""WITH sgs_v AS (
  SELECT vec_id, embedding, {_band_key_cols('embedding', n_bands, band_bits, dim)}
  FROM {src}),
sgs_q AS (
  SELECT vec_id AS query_id, embedding,
         {_band_key_cols('embedding', n_bands, band_bits, dim)}
  FROM {src} WHERE vec_id < {n_queries}),
sgs_sims AS (
  SELECT q.query_id, v.vec_id, {cos} AS sim
  FROM sgs_v v JOIN sgs_q q ON ({cond})
),
sgs_ranked AS (
  SELECT query_id, vec_id, sim,
         cast(row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id ASC) AS int) AS rank
  FROM sgs_sims
)
SELECT query_id, rank, vec_id, sim FROM sgs_ranked WHERE rank <= {k}
ORDER BY query_id, rank"""


def embedding_neardup_oracle(
    src: str = "embeddings",
    threshold: float = 0.8,
    n_bands: int = 4,
    band_bits: int = 8,
    dim: int = 64,
    bucket_cap: int | None = None,
) -> str:
    key_rows = "\nUNION ALL\n".join(
        f"SELECT vec_id, embedding, {b} AS band, k{b} AS key FROM sgs_v"
        for b in range(n_bands)
    )
    cap_cte = ""
    keyed_src = "sgs_keys"
    if bucket_cap is not None:
        cap_cte = f""",
sgs_ok AS (
  SELECT band, key FROM sgs_keys GROUP BY band, key HAVING count(*) <= {bucket_cap}
),
sgs_keys_c AS (SELECT k.* FROM sgs_keys k JOIN sgs_ok USING (band, key))"""
        keyed_src = "sgs_keys_c"
    cos = _cos_sql("a.embedding", "b.embedding", dim)
    return f"""WITH sgs_v AS (
  SELECT vec_id, embedding, {_band_key_cols('embedding', n_bands, band_bits, dim)}
  FROM {src}),
sgs_keys AS ({key_rows}){cap_cte}
SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b, {cos} AS sim
FROM {keyed_src} a
JOIN {keyed_src} b ON a.band = b.band AND a.key = b.key AND a.vec_id < b.vec_id
WHERE {cos} >= {threshold}
ORDER BY id_a, id_b"""


def _centroid_literal(c: int, dim: int) -> str:
    from sketches_go_spark.operators.similarity import ivf_centroid

    return "[" + ", ".join(repr(x) for x in ivf_centroid(c, dim)) + "]"


def ivf_topk_oracle(
    src: str = "embeddings",
    n_queries: int = 5,
    k: int = 5,
    n_centroids: int = 16,
    nprobe: int = 4,
    dim: int = 64,
) -> str:
    """Replay of operators.similarity.ivf_topk: argmax-dot cell assignment
    (first index of the max — identical tie-break), nprobe best cells per
    query, exact cosine within probed cells."""
    dots = "[" + ", ".join(
        _dot_sql("embedding", _centroid_literal(c, dim), dim)
        for c in range(n_centroids)
    ) + "]"
    probe_rows = "\nUNION ALL\n".join(
        f"SELECT query_id, embedding, {c} AS cell, dots[{c + 1}] AS dot FROM sgs_qd"
        for c in range(n_centroids)
    )
    cos = _cos_sql("q.embedding", "v.embedding", dim)
    return f"""WITH sgs_vd AS (
  SELECT vec_id, embedding, {dots} AS dots FROM {src}
),
sgs_v AS (
  SELECT vec_id, embedding,
         cast(list_position(dots, list_max(dots)) - 1 AS int) AS cell
  FROM sgs_vd
),
sgs_qd AS (
  SELECT vec_id AS query_id, embedding, {dots} AS dots
  FROM {src} WHERE vec_id < {n_queries}
),
sgs_probe AS (
  SELECT query_id, embedding, cell FROM (
    SELECT query_id, embedding, cell, dot,
           row_number() OVER (PARTITION BY query_id ORDER BY dot DESC, cell ASC) AS pr
    FROM ({probe_rows})
  ) WHERE pr <= {nprobe}
),
sgs_sims AS (
  SELECT q.query_id, v.vec_id, {cos} AS sim
  FROM sgs_v v JOIN sgs_probe q ON v.cell = q.cell
),
sgs_ranked AS (
  SELECT query_id, vec_id, sim,
         cast(row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id ASC) AS int) AS rank
  FROM sgs_sims
)
SELECT query_id, rank, vec_id, sim FROM sgs_ranked WHERE rank <= {k}
ORDER BY query_id, rank"""


def ivf_trained_topk_oracle(
    src: str = "embeddings",
    n_queries: int = 5,
    k: int = 5,
    km_k: int = 8,
    iters: int = 2,
    nprobe: int = 3,
    dim: int = 64,
    scale_bits: int = 14,
    train_salt: str = "ivftrain:",
    train_mod: int = 4,
    train_keep: int = 2,
) -> str:
    """Replay of the TRAINED-IVF pipeline: kmeans_fit on the hash-sampled
    training subset (same integer-grid CTE chain as kmeans_oracle_sql, plus
    the final centroid update), codebook floats via the same exact division
    chain as kmeans_centroids ((s/n)/2^scale_bits, cells numbered by cluster
    order), then the ivf_topk probe/refine with that codebook."""
    from sketches_go_spark.operators.similarity import kmeans_cte_defs

    scale = float(1 << scale_bits)
    train_where = (
        f"({_hash_sql('vec_id', train_salt)}) % {train_mod} < {train_keep}"
    )
    defs = kmeans_cte_defs(
        src, km_k, iters, dim, "vec_id", "embedding", scale_bits,
        where=train_where, with_final_update=True,
    )
    defs.append(f"""sgs_cb AS (
  SELECT cast(row_number() OVER (ORDER BY cluster ASC) - 1 AS int) AS cell,
         list_transform(range(1, {dim + 1}),
           p -> cast(s[p] AS double) / cast(n AS double) / {scale}) AS cvec
  FROM sgs_c{iters}
)""")
    dot = _dot_sql("v.embedding", "c.cvec", dim)
    defs.append(f"""sgs_v AS (
  SELECT vec_id, embedding, cell FROM (
    SELECT v.vec_id, v.embedding, c.cell,
           row_number() OVER (PARTITION BY v.vec_id
                              ORDER BY {dot} DESC, c.cell ASC) AS rn
    FROM {src} v CROSS JOIN sgs_cb c
  ) WHERE rn = 1
)""")
    defs.append(f"""sgs_probe AS (
  SELECT query_id, embedding, cell FROM (
    SELECT v.vec_id AS query_id, v.embedding, c.cell,
           row_number() OVER (PARTITION BY v.vec_id
                              ORDER BY {dot} DESC, c.cell ASC) AS pr
    FROM {src} v CROSS JOIN sgs_cb c WHERE v.vec_id < {n_queries}
  ) WHERE pr <= {nprobe}
)""")
    cos = _cos_sql("q.embedding", "v.embedding", dim)
    return (
        "WITH "
        + ",\n".join(defs)
        + f""",
sgs_sims AS (
  SELECT q.query_id, v.vec_id, {cos} AS sim
  FROM sgs_v v JOIN sgs_probe q ON v.cell = q.cell
),
sgs_ranked AS (
  SELECT query_id, vec_id, sim,
         cast(row_number() OVER (PARTITION BY query_id
                                 ORDER BY sim DESC, vec_id ASC) AS int) AS rank
  FROM sgs_sims
)
SELECT query_id, rank, vec_id, sim FROM sgs_ranked WHERE rank <= {k}
ORDER BY query_id, rank"""
    )


# ------------------------------------------------------------------- sampling
def sample_split_oracle(
    src: str = "documents", rate: float = 0.1,
    split_salt: str = "split:", sample_salt: str = "sample:",
    weights=None,
) -> str:
    """Replay of sampling.hash_split + deterministic_sample membership."""
    from sketches_go_spark.operators.sampling import (
        SPLIT_BUCKETS,
        split_thresholds,
    )

    weights = weights or {"train": 0.98, "val": 0.01, "test": 0.01}
    thresholds = split_thresholds(weights)
    case = "CASE " + " ".join(
        f"WHEN sb < {hi} THEN '{name}'" for name, hi in thresholds[:-1]
    ) + f" ELSE '{thresholds[-1][0]}' END"
    thr = int(round(rate * SPLIT_BUCKETS))
    return f"""WITH sgs_b AS (
  SELECT doc_id,
         {_hash_sql('doc_id', split_salt)} % {SPLIT_BUCKETS} AS sb,
         {_hash_sql('doc_id', sample_salt)} % {SPLIT_BUCKETS} AS mb
  FROM {src}
)
SELECT doc_id, {case} AS split, mb < {thr} AS in_sample
FROM sgs_b ORDER BY doc_id"""


def stratified_topk_oracle(
    src: str = "documents", key: str = "lang", k: int = 5,
    salt: str = "strat:",
) -> str:
    """Replay of sampling.stratified_topk_sample (hash rank, id tiebreak)."""
    return f"""WITH sgs_rk AS (
  SELECT doc_id, {key},
         cast(row_number() OVER (
           PARTITION BY {key}
           ORDER BY {_hash_sql('doc_id', salt)} ASC, doc_id ASC
         ) AS int) AS rk
  FROM {src}
)
SELECT doc_id, {key}, rk FROM sgs_rk WHERE rk <= {k}
ORDER BY {key}, rk"""


def closure_over_pairs_sql(
    pairs_sql: str, src: str, id_col: str
) -> str:
    """Wrap ANY (id_a, id_b) pair-producing SQL into transitive-closure
    component labeling over the full ``src`` table (min reachable id; same
    lossless ``lbl < v`` prune as components_oracle; the pair and edge CTEs
    are materialized for the reason given there: the embedding components
    oracle took 259 s at sf0.001 with them inlined, 30 s without)."""
    return f"""WITH RECURSIVE sgs_prs AS MATERIALIZED ({pairs_sql}),
sgs_edges AS MATERIALIZED (
  SELECT id_a AS u, id_b AS v FROM sgs_prs
  UNION SELECT id_b AS u, id_a AS v FROM sgs_prs
),
sgs_reach(node, lbl) AS (
  SELECT DISTINCT u, u FROM sgs_edges
  UNION
  SELECT e.v, r.lbl FROM sgs_reach r JOIN sgs_edges e ON e.u = r.node
  WHERE r.lbl < e.v
),
sgs_comp AS (SELECT node, min(lbl) AS component FROM sgs_reach GROUP BY node)
SELECT d.{id_col},
       coalesce(c.component, d.{id_col}) AS component,
       count(*) OVER (PARTITION BY coalesce(c.component, d.{id_col})) AS csize
FROM {src} d
LEFT JOIN sgs_comp c ON c.node = d.{id_col}
ORDER BY {id_col}"""


def winnow_containment_oracle(
    src: str = "documents", k: int = 8, w: int = 16,
    threshold: float = 0.5, fp_cap: int = 1000,
) -> str:
    """Replay of text.winnow_containment_pairs (same fingerprints, same
    doc-frequency cap, same division/rounding)."""
    fps = winnow_fingerprints_sql(src, k=k, w=w)
    return f"""WITH sgs_fps AS ({fps}),
sgs_sizes AS (SELECT doc_id, count(*) AS sz FROM sgs_fps GROUP BY doc_id),
sgs_rare AS (SELECT fp FROM sgs_fps GROUP BY fp HAVING count(*) <= {fp_cap}),
sgs_fr AS (SELECT f.* FROM sgs_fps f JOIN sgs_rare USING (fp)),
sgs_common AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common
  FROM sgs_fr a JOIN sgs_fr b ON a.fp = b.fp AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT id_a, id_b,
       round(common / sa.sz, 6) AS cont_a,
       round(common / sb.sz, 6) AS cont_b
FROM sgs_common
JOIN sgs_sizes sa ON sa.doc_id = id_a
JOIN sgs_sizes sb ON sb.doc_id = id_b
WHERE round(common / sa.sz, 6) >= {threshold}
   OR round(common / sb.sz, 6) >= {threshold}
ORDER BY id_a, id_b"""


def benchmark_contamination_oracle(
    src: str = "documents", k: int = 8, w: int = 16,
    threshold: float = 0.5, fp_cap: int = 1000,
    bench_mod: int = 50, bench_pick: int = 7, bench_len: int = 200,
) -> str:
    """Replay of text.winnow_contamination over the driver's synthetic
    benchmark table (hash-picked docs' leading ``bench_len`` chars): same
    fingerprints on both sides, same corpus-side fp_cap, same
    containment-of-the-benchmark division/rounding."""
    bench_filter = f"({_hash_sql('doc_id', 'benchpick:')}) % {bench_mod} = {bench_pick}"
    fpc = winnow_fingerprints_sql(src, k=k, w=w)
    fpb = winnow_fingerprints_sql(
        "sgs_bench", id_col="bench_id", text_col="text", k=k, w=w
    )
    return f"""WITH sgs_bench AS (
  SELECT doc_id AS bench_id, substr(text, 1, {bench_len}) AS text
  FROM {src} WHERE {bench_filter}
),
sgs_fpc AS ({fpc}),
sgs_fpb AS ({fpb}),
sgs_bsz AS (SELECT bench_id, count(*) AS bsz FROM sgs_fpb GROUP BY bench_id),
sgs_rare AS (SELECT fp FROM sgs_fpc GROUP BY fp HAVING count(*) <= {fp_cap}),
sgs_common AS (
  SELECT c.doc_id, b.bench_id, count(*) AS common
  FROM sgs_fpc c
  JOIN sgs_rare USING (fp)
  JOIN sgs_fpb b USING (fp)
  GROUP BY c.doc_id, b.bench_id
)
SELECT doc_id, bench_id,
       round(common / s.bsz, 6) AS contamination
FROM sgs_common JOIN sgs_bsz s USING (bench_id)
WHERE round(common / s.bsz, 6) >= {threshold}
ORDER BY doc_id, bench_id"""


def repetition_oracle(src: str = "documents") -> str:
    """Replay of text.repetition_features (dup-line + dup-ngram fractions)."""
    return repetition_features_sql(src)
