"""Text analysis operators for training-data pipelines — token counting,
quality scoring, language ID, document fingerprinting.

All hot paths are pure Catalyst string arithmetic (whole-stage codegen, no
regex where a replace-count identity suffices, no Python).  Every operator
has a DuckDB-oracle twin built from the same engine-portable identities:

    occurrences(s, sub) = (length(s) - length(replace(s, sub, ''))) / length(sub)
    token_count(s)      = occurrences(' '||trim(s)||' ', ' ') - 1   (for s != '')

Language ID ships two implementations: a marker-word scorer (pure Catalyst,
oracle-exact) and a trigram-profile scorer (vectorized pandas UDF) for real
multilingual text; the profile version is the production default, the marker
version is what the cross-engine correctness gate replays.
"""

from __future__ import annotations


from typing import Iterator

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

from sketches_go_spark.functions.expressions import portable_hash64


def _col(c: str | Column) -> Column:
    return F.col(c) if isinstance(c, str) else c


def occurrences(text: Column, sub: str) -> Column:
    """Number of (possibly overlapping-free) occurrences of ``sub`` — pure
    string arithmetic, identical in any SQL engine."""
    return (
        (F.length(text) - F.length(F.replace(text, F.lit(sub), F.lit(""))))
        / F.lit(len(sub))
    ).cast("int")


def token_count(text: Column) -> Column:
    """Whitespace-token count via the space-counting identity (no regex, no
    split-array materialization)."""
    t = F.trim(text)
    padded = F.concat(F.lit(" "), t, F.lit(" "))
    return F.when(F.length(t) == 0, F.lit(0)).otherwise(
        occurrences(padded, " ") - F.lit(1)
    )


# Engine-portable SQL twins (DuckDB dialect == ANSI here)
def occurrences_sql(expr: str, sub: str) -> str:
    esc = sub.replace("'", "''")
    return (
        f"cast((length({expr}) - length(replace({expr}, '{esc}', '')))"
        f" / {len(sub)} AS int)"
    )


def token_count_sql(expr: str) -> str:
    padded = f"concat(' ', trim({expr}), ' ')"
    return (
        f"CASE WHEN length(trim({expr})) = 0 THEN 0 "
        f"ELSE {occurrences_sql(padded, ' ')} - 1 END"
    )


# GPT-2-flavoured pretokenizer, lookahead-free so Java regex (Spark) and RE2
# (DuckDB) agree match-for-match: letter runs / digit runs / punctuation runs,
# each optionally absorbing one leading space, plus whitespace runs collapsed.
BPE_ISH_PATTERN = r" ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+"


def bpe_token_count(text: Column) -> Column:
    """BPE-ish subword-boundary token count: the number of pretokenizer
    matches (letter runs, digit runs, punctuation runs).  A cheap Catalyst
    stand-in for a real BPE vocab pass — proportional to BPE token counts on
    natural text, and exactly replayable cross-engine."""
    return F.regexp_count(text, F.lit(BPE_ISH_PATTERN)).cast("int")


def bpe_token_count_sql(expr: str) -> str:
    return (
        f"cast(length(regexp_extract_all({expr}, '{BPE_ISH_PATTERN}')) AS int)"
    )


STOPWORDS = ("the", "a", "of", "and", "to")


def quality_features(
    df: DataFrame, text_col: str | Column = "text"
) -> DataFrame:
    """Append deterministic quality features: n_chars, n_tokens,
    avg_token_len, stopword_frac, quality_score (logistic of the features,
    rounded).  Pure Catalyst."""
    text = _col(text_col)
    toks = token_count(text)
    n_chars = F.length(text)
    spaces = occurrences(text, " ")
    avg_tok = F.when(toks > 0, (n_chars - spaces).cast("double") / toks).otherwise(
        F.lit(0.0)
    )
    padded = F.concat(F.lit(" "), F.trim(text), F.lit(" "))
    stop_hits = None
    for w in STOPWORDS:
        h = occurrences(padded, f" {w} ")
        stop_hits = h if stop_hits is None else (stop_hits + h)
    stop_frac = F.when(toks > 0, stop_hits.cast("double") / toks).otherwise(F.lit(0.0))
    score = F.lit(1.0) / (
        F.lit(1.0)
        + F.exp(
            -(
                F.lit(-1.0)
                + F.log(toks.cast("double") + F.lit(1.0)) * F.lit(0.5)
                + stop_frac * F.lit(2.0)
                - F.when(avg_tok > 12, avg_tok - 12).otherwise(F.lit(0.0)) * F.lit(0.5)
            )
        )
    )
    return (
        df.withColumn("n_chars", n_chars)
        .withColumn("n_tokens", toks)
        .withColumn("avg_token_len", F.round(avg_tok, 6))
        .withColumn("stopword_frac", F.round(stop_frac, 6))
        .withColumn("quality_score", F.round(score, 6))
    )


def quality_features_sql(text_expr: str) -> dict[str, str]:
    """DuckDB expressions mirroring quality_features, keyed by column name."""
    toks = token_count_sql(text_expr)
    padded = f"concat(' ', trim({text_expr}), ' ')"
    spaces = occurrences_sql(text_expr, " ")
    stop_hits = " + ".join(occurrences_sql(padded, f" {w} ") for w in STOPWORDS)
    avg = (
        f"CASE WHEN ({toks}) > 0 THEN cast(length({text_expr}) - {spaces} AS double)"
        f" / ({toks}) ELSE 0.0 END"
    )
    stop_frac = (
        f"CASE WHEN ({toks}) > 0 THEN cast({stop_hits} AS double) / ({toks})"
        f" ELSE 0.0 END"
    )
    score = (
        f"1.0 / (1.0 + exp(-(-1.0 + ln(cast({toks} AS double) + 1.0) * 0.5"
        f" + ({stop_frac}) * 2.0"
        f" - (CASE WHEN ({avg}) > 12 THEN ({avg}) - 12 ELSE 0.0 END) * 0.5)))"
    )
    return {
        "n_chars": f"length({text_expr})",
        "n_tokens": toks,
        "avg_token_len": f"round({avg}, 6)",
        "stopword_frac": f"round({stop_frac}, 6)",
        "quality_score": f"round({score}, 6)",
    }


# ---------------------------------------------------------------- language ID
# marker-word scorer: pure Catalyst, oracle-exact.  Scores = occurrences of
# language-characteristic words; argmax with deterministic tie-break by
# language code; 'und' when nothing matches.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "with"),
    "de": ("der", "und", "nicht", "ist"),
    "fr": ("le", "et", "les", "est"),
    "es": ("el", "que", "los", "por"),
    "zh": ("的", "是", "了", "在"),
}


def langid_markers(df: DataFrame, text_col: str | Column = "text") -> DataFrame:
    text = _col(text_col)
    padded = F.concat(F.lit(" "), F.lower(F.trim(text)), F.lit(" "))
    scores = []
    for lang in sorted(LANG_MARKERS):
        s = None
        for w in LANG_MARKERS[lang]:
            h = occurrences(padded, f" {w} ")
            s = h if s is None else (s + h)
        scores.append((lang, s))
    best_score = F.greatest(*[s for _, s in scores])
    lang_pick = F.lit("und")
    for lang, s in reversed(scores):  # earlier langs win ties -> build reversed
        lang_pick = F.when(s == best_score, F.lit(lang)).otherwise(lang_pick)
    out = F.when(best_score > 0, lang_pick).otherwise(F.lit("und"))
    return df.withColumn("lang_pred", out)


# trigram-profile scorer (production path for real text): vectorized pandas
_PROFILES = {
    "en": (" th", "the", "he ", " an", "and", "nd ", " of", "ing", "ng "),
    "de": ("der", "ein", "ich", "sch", "ung", " de", "en ", "ch "),
    "fr": (" le", "les", " de", "des", "ent", "que", "ion", " la"),
    "es": (" de", "os ", " la", "que", " el", "ión", "ar ", "el "),
}


def langid_trigrams(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Trigram-profile language ID as a mapInPandas stage (Arrow-batched)."""
    from pyspark.sql.types import StructField, StructType

    schema = StructType(list(df.schema.fields) + [StructField("lang_pred", StringType())])

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            preds = []
            for t in pdf[text_col].fillna(""):
                tl = f" {t.lower()} "
                best, best_s = "und", 0
                for lang, grams in _PROFILES.items():
                    s = sum(tl.count(g) for g in grams)
                    if s > best_s:
                        best, best_s = lang, s
                preds.append(best)
            pdf = pdf.copy()
            pdf["lang_pred"] = preds
            yield pdf

    return df.mapInPandas(score, schema=schema)


# -------------------------------------------------------------- fingerprints
def winnow_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    w: int = 16,
    hash_fn=None,
) -> DataFrame:
    """Winnowing document fingerprints (the rolling-hash fingerprint family,
    Schleimer/Wilkerson/Aiken): hash every k-gram of the normalized text and
    keep the minimum hash of each w-window of consecutive positions; the
    DISTINCT minima are the document's fingerprint set — near-identical
    documents share most fingerprints, enabling substring-level dedup that
    whole-doc hashing misses.

    Output: (id, fp) distinct.

    ZERO-SHUFFLE Catalyst: every k-gram of a document lives in that
    document's own row, so the whole fingerprint set is computed per row
    with higher-order functions — transform(sequence) hashes the k-grams
    into an array, a second transform takes each w-window's array_min
    (slice truncates at the tail, matching the window-frame semantics), and
    array_distinct collapses the overlaps before explode.  No Exchange
    anywhere in the plan (asserted in tests): at corpus scale the
    alternative window-min formulation shuffles |text| hash rows per doc.
    The default hash is the portable 60-bit hash so a DuckDB oracle replays
    the exact fingerprint set; production passes ``hash_fn=F.xxhash64``
    (JVM-intrinsic; a true O(1)-per-step rolling polynomial drops in at the
    same seam if gram hashing ever dominates — output semantics identical)."""
    hash_fn = hash_fn or (lambda c: portable_hash64(c, "wn:"))
    s = F.lower(F.trim(_col(text_col)))
    d = df.select(_col(id_col).alias(id_col), s.alias("_s"))
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(F.length(F.col("_s")) - k + 1, F.lit(1))),
        lambda i: hash_fn(F.col("_s").substr(i, F.lit(k))),
    )
    d = d.select(id_col, grams.alias("_h"))
    window_mins = F.transform(
        F.sequence(F.lit(1), F.size(F.col("_h"))),
        lambda i: F.array_min(F.slice(F.col("_h"), i, w)),
    )
    return d.select(
        id_col, F.explode(F.array_distinct(window_mins)).alias("fp")
    )


def winnow_fingerprints_sql(
    src: str = "documents", id_col: str = "doc_id", text_col: str = "text",
    k: int = 8, w: int = 16,
) -> str:
    """DuckDB twin of :func:`winnow_fingerprints` (portable hash, same
    window-min + distinct)."""
    h = (
        f"cast(concat('0x', substr(md5(concat('wn:', "
        f"cast(substr(s, i, {k}) as string))), 1, 15)) as bigint)"
    )
    return f"""WITH sgs_docs AS (
  SELECT {id_col}, lower(trim({text_col})) AS s FROM {src}
),
sgs_grams AS (
  SELECT {id_col}, u.i, {h} AS h
  FROM sgs_docs
  CROSS JOIN LATERAL (
    SELECT unnest(range(1, greatest(length(s) - {k} + 1, 1) + 1)) AS i
  ) u
),
sgs_mins AS (
  SELECT {id_col},
         min(h) OVER (PARTITION BY {id_col} ORDER BY i
                      ROWS BETWEEN CURRENT ROW AND {w - 1} FOLLOWING) AS fp
  FROM sgs_grams
)
SELECT DISTINCT {id_col}, fp FROM sgs_mins"""


def doc_fingerprint(text: Column) -> Column:
    """Deterministic 60-bit content fingerprint of the normalized text —
    exact-dedup key, identical in SQL via the portable hash."""
    return portable_hash64(F.lower(F.trim(text)))


def doc_fingerprint_sql(text_expr: str) -> str:
    inner = f"concat('', cast(lower(trim({text_expr})) as string))"
    return f"cast(concat('0x', substr(md5({inner}), 1, 15)) as bigint)"


def winnow_containment_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    w: int = 16,
    threshold: float = 0.5,
    fp_cap: int = 1000,
    decimals: int = 6,
    candidate_budget: int | None = None,
) -> DataFrame:
    """(id_a, id_b, cont_a, cont_b): fingerprint-containment scores for doc
    pairs sharing winnow fingerprints — cont_a = |fp(a) ∩ fp(b)| / |fp(a)|.

    ``candidate_budget``: when set, the exact candidate volume
    (sum of C(docfreq, 2) over capped fingerprints) is computed from the
    docfreq relation BEFORE the self-join and
    :class:`CandidateBudgetExceeded` is raised above it — costs one small
    eager aggregation job.

    Containment is the ASYMMETRIC relation Jaccard misses: a short document
    pasted inside a long one scores cont_short ≈ 1 while Jaccard stays low.
    Pairs kept when either side's containment >= threshold.

    Scale shape mirrors ngram_jaccard_pairs: the fingerprint relation IS the
    blocking index (pairs only meet on a shared fingerprint), and ``fp_cap``
    drops boilerplate fingerprints shared by more than that many docs before
    the self-join — the anti-quadratic guard.

    Round-4 plan audit: at sf0.1 this is the slowest pipeline query (~13 s)
    because the SYNTHETIC corpus is adversarial to blocking — its ~100-word
    vocabulary makes 64% of ALL doc pairs share a fingerprint (8.0 M of
    12.5 M possible at 5 000 docs), so candidate generation is inherently
    ~n²/2 on this data.  Two alternative plans (postings-array HOF explode;
    posexplode+slice streaming explode) were measured at 11-26 s — the 8 M
    distinct candidate pairs are the cost, not the join shape.  On real
    corpora fingerprint doc-frequency is long-tail-low and fp_cap bounds
    the hot tail; the join formulation below is the fastest of the three
    measured and the one that streams (never materializes a posting's
    C(df,2) pairs in one buffer)."""
    # the fingerprint relation feeds THREE branches (sizes, docfreq, the
    # self-join) and the winnow build is the expensive md5 pass over every
    # k-gram — localCheckpoint materializes it once instead of recomputing
    # it per branch (lineage-cut, recomputed from parquet on every fresh
    # invocation, so no cross-run result reuse)
    fps = winnow_fingerprints(df, id_col, text_col, k=k, w=w).localCheckpoint(
        eager=True
    )
    sizes = fps.groupBy(id_col).agg(F.count(F.lit(1)).alias("sz"))
    freq = (
        fps.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("docfreq"))
        .where(F.col("docfreq") <= fp_cap)
    )
    if candidate_budget is not None:
        check_candidate_budget(
            freq, "docfreq", candidate_budget, "winnow_containment_pairs"
        )
    rare = freq.select("fp")
    fr = fps.join(rare, "fp")
    a = fr.select(F.col(id_col).alias("id_a"), "fp")
    b = fr.select(F.col(id_col).alias("id_b"), "fp")
    common = (
        a.join(b, "fp")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    out = (
        common.join(
            sizes.withColumnRenamed(id_col, "id_a").withColumnRenamed("sz", "sz_a"),
            "id_a",
        )
        .join(
            sizes.withColumnRenamed(id_col, "id_b").withColumnRenamed("sz", "sz_b"),
            "id_b",
        )
        .select(
            "id_a",
            "id_b",
            F.round(F.col("common") / F.col("sz_a"), decimals).alias("cont_a"),
            F.round(F.col("common") / F.col("sz_b"), decimals).alias("cont_b"),
        )
        .where(
            (F.col("cont_a") >= threshold) | (F.col("cont_b") >= threshold)
        )
    )
    return out


# ----------------------------------------------------- repetition screening
def repetition_features(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str | Column = "text",
    ns: tuple[int, ...] = (2, 3),
    decimals: int = 6,
) -> DataFrame:
    """Within-document repetition screen (the Gopher/MassiveText-style
    quality filter): per doc, the duplicate-line fraction and the
    duplicate word-n-gram fraction for each n in ``ns`` —
    ``dup = 1 - distinct/total`` (0 for empty docs).  Heavily repeated
    boilerplate, looped generations, and listicle spam all light these up
    while length/stopword features stay normal.

    Pure per-row Catalyst higher-order functions — split, transform,
    array_distinct — ZERO shuffles; the whole screen runs inside the scan's
    codegen, so at 100 TB the cost is string traversal alone."""
    # lazy import: dedup imports from text at module level, so the shingle
    # helper must be imported at call time to avoid the cycle
    from sketches_go_spark.operators.dedup import word_shingles

    text = F.coalesce(_col(text_col), F.lit(""))
    lines = F.split(text, "\n")
    words = F.split(F.lower(F.trim(text)), " ")
    d = df.select(
        _col(id_col).alias(id_col), lines.alias("_ln"), words.alias("_w")
    )
    n_lines = F.size("_ln")
    dup_line = F.when(
        n_lines > 0,
        F.lit(1.0)
        - F.size(F.array_distinct("_ln")).cast("double") / n_lines,
    ).otherwise(F.lit(0.0))
    cols = [
        n_lines.alias("n_lines"),
        F.round(dup_line, decimals).alias("dup_line_frac"),
    ]
    for n in ns:
        grams = word_shingles(F.col("_w"), n)
        total = F.size(grams)
        frac = F.when(
            total > 0,
            F.lit(1.0) - F.size(F.array_distinct(grams)).cast("double") / total,
        ).otherwise(F.lit(0.0))
        cols.append(F.round(frac, decimals).alias(f"dup_{n}gram_frac"))
    return d.select(id_col, *cols)


def repetition_features_sql(
    src: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    ns: tuple[int, ...] = (2, 3),
    decimals: int = 6,
) -> str:
    """DuckDB replay of :func:`repetition_features` (same split semantics,
    same shingle grid, same 1 - distinct/total identity)."""
    text = f"coalesce({text_col}, '')"
    laterals, sels = [], []
    for n in ns:
        grams = (
            f"CASE WHEN len(w) >= {n} THEN list_transform("
            f"range(1, len(w) - {n} + 2), "
            f"i -> array_to_string(list_slice(w, i, i + {n} - 1), ' ')) "
            f"ELSE [] END"
        )
        laterals.append(f"LATERAL (SELECT {grams} AS g{n}) sgs_g{n}")
        sels.append(
            f"CASE WHEN len(g{n}) > 0 THEN round(1.0 - "
            f"cast(len(list_distinct(g{n})) AS double) / len(g{n}), "
            f"{decimals}) ELSE 0.0 END AS dup_{n}gram_frac"
        )
    return f"""WITH sgs_rep AS (
  SELECT {id_col},
         string_split({text}, chr(10)) AS l,
         string_split(lower(trim({text})), ' ') AS w
  FROM {src}
)
SELECT {id_col},
       cast(len(l) AS int) AS n_lines,
       CASE WHEN len(l) > 0 THEN round(1.0 -
         cast(len(list_distinct(l)) AS double) / len(l), {decimals})
       ELSE 0.0 END AS dup_line_frac,
       {", ".join(sels)}
FROM sgs_rep, {", ".join(laterals)}
ORDER BY {id_col}"""


class CandidateBudgetExceeded(RuntimeError):
    """A blocking self-join would generate more candidate pairs than the
    caller's budget — the explicit failure mode for corpora whose key
    distribution defeats blocking (e.g. a tiny shared vocabulary), instead
    of a runaway quadratic stage."""


def check_candidate_budget(
    freq: DataFrame, count_col: str, budget: int, what: str
) -> float:
    """Candidate volume a blocking self-join will generate: sum over keys of
    C(docfreq, 2), computed from the (cheap, already-aggregated) docfreq
    relation BEFORE the join runs.  Raises :class:`CandidateBudgetExceeded`
    above ``budget``.  One tiny aggregation job — the price of making the
    quadratic failure mode explicit rather than discovered as a hung stage
    at 100 TB."""
    c = F.col(count_col).cast("double")
    row = freq.agg(F.sum(c * (c - 1) / 2).alias("_cand")).first()
    n = float(row["_cand"] or 0.0)
    if n > budget:
        raise CandidateBudgetExceeded(
            f"{what}: blocking join would generate ~{n:.3g} candidate pairs"
            f" (> budget {budget}); raise the budget, tighten the"
            " doc-frequency cap, or sample the corpus"
        )
    return n


def winnow_contamination(
    corpus: DataFrame,
    bench: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_id_col: str = "bench_id",
    bench_text_col: str = "text",
    k: int = 8,
    w: int = 16,
    threshold: float = 0.5,
    fp_cap: int = 1000,
    decimals: int = 6,
) -> DataFrame:
    """(doc_id, bench_id, contamination): benchmark-contamination screen —
    containment of each BENCHMARK item's winnow fingerprint set inside each
    corpus document, ``contamination = |fp(bench) ∩ fp(doc)| / |fp(bench)|``.
    The asymmetric complement of :func:`winnow_containment_pairs`: the
    benchmark side is small and trusted, the corpus side is 100 TB, and the
    question is "which training docs contain (pieces of) this eval item",
    not "which docs resemble each other".

    Scale shape: the join key is the fingerprint, the benchmark fingerprint
    relation is tiny (broadcastable), and ``fp_cap`` drops corpus-hot
    boilerplate fingerprints before the join — so the probe costs one scan
    of the corpus fingerprints, never a self-join."""
    # the corpus fingerprint relation feeds two branches (docfreq cap + the
    # probe join) — materialize it once; the md5 winnow pass is the
    # expensive stage and would otherwise run per branch
    fps_c = winnow_fingerprints(corpus, id_col, text_col, k=k, w=w).localCheckpoint(
        eager=True
    )
    fps_b = winnow_fingerprints(bench, bench_id_col, bench_text_col, k=k, w=w)
    sz_b = fps_b.groupBy(bench_id_col).agg(F.count(F.lit(1)).alias("_bsz"))
    rare = (
        fps_c.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("docfreq"))
        .where(F.col("docfreq") <= fp_cap)
        .select("fp")
    )
    common = (
        fps_c.join(rare, "fp")
        .join(F.broadcast(fps_b), "fp")
        .groupBy(id_col, bench_id_col)
        .agg(F.count(F.lit(1)).alias("common"))
    )
    return (
        common.join(F.broadcast(sz_b), bench_id_col)
        .select(
            id_col,
            bench_id_col,
            F.round(F.col("common") / F.col("_bsz"), decimals).alias(
                "contamination"
            ),
        )
        .where(F.col("contamination") >= threshold)
    )


# ------------------------------------------------------------- PII redaction
# Lookahead-free patterns so Java regex (Spark) and RE2 (DuckDB) agree
# match-for-match.  Order matters and is part of the contract: emails are
# replaced first (their domains would otherwise feed the IP pattern), then
# +-prefixed phone numbers, then bare IPv4s; each count is taken on the text
# AFTER the previous stage, so counts == replacements actually made.
PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+\-]+@[A-Za-z0-9.\-]+\.[A-Za-z][A-Za-z]+", "[EMAIL]"),
    ("phone", r"\+[0-9][0-9 ()\-]{6,}[0-9]", "[PHONE]"),
    ("ipv4", r"[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}", "[IP]"),
)


def redact(
    df: DataFrame, text_col: str | Column = "text", out_col: str = "text_redacted"
) -> DataFrame:
    """Append ``out_col`` (the PII-scrubbed text) and one ``n_<kind>``
    replacement-count column per pattern.  Pure Catalyst regexp stages —
    zero shuffles, runs inside the scan's whole-stage codegen, and the cost
    at 100 TB is the regex engine alone."""
    cur = _col(text_col)
    counts = []
    for kind, pat, repl in PII_PATTERNS:
        counts.append(F.regexp_count(cur, F.lit(pat)).cast("int").alias(f"n_{kind}"))
        cur = F.regexp_replace(cur, pat, repl)
    return df.select("*", *counts, cur.alias(out_col))


def redact_sql(text_expr: str, out_col: str = "text_redacted") -> dict[str, str]:
    """DuckDB expressions mirroring :func:`redact`, keyed by column name
    (counts via len(regexp_extract_all); replace with the 'g' flag — DuckDB
    replaces only the first match by default, Spark replaces all)."""
    cur = text_expr
    cols: dict[str, str] = {}
    for kind, pat, repl in PII_PATTERNS:
        p = pat.replace("'", "''")
        cols[f"n_{kind}"] = (
            f"cast(len(regexp_extract_all({cur}, '{p}')) AS int)"
        )
        cur = f"regexp_replace({cur}, '{p}', '{repl}', 'g')"
    cols[out_col] = cur
    return cols


# ------------------------------------------------- unigram LM quality score
def unigram_logprob(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    decimals: int = 6,
) -> DataFrame:
    """(id, n_words, logprob_per_word): CCNet-style language-model quality
    score — the mean log10 corpus-unigram probability of the document's
    words.  Documents full of rare/garbled tokens score low, fluent
    in-distribution text scores high; the standard cheap stand-in for a
    perplexity filter.

    Cross-engine exactness: the per-word log is computed ONCE PER DISTINCT
    TERM on the frequency relation and quantized to integer micro-units
    (round(log10(c/total) * 1e6)), so the per-document accumulation is an
    order-free INTEGER sum — no float-summation-order divergence between
    engines or partitionings; only the final division is rounded.  That
    final rounding uses an explicit sign·floor(abs+0.5) half-away rule on
    the integer-ratio double (exact: the ratio is either exactly x.5 —
    representable — or ≥1/(2n) from a half, far beyond the ~2e-9 division
    ulp), because engine round() functions disagree on exact decimal halves
    (Spark BigDecimal HALF_UP vs DuckDB's float-multiply path).

    Scale shape: one explode + one term-frequency aggregation (map-side
    combinable), the corpus total broadcast from a 1-row aggregate, the log
    computed on the (small) distinct-term relation, and one (doc) groupBy.
    Wordless documents are absent (no distribution to score)."""
    words = F.split(F.lower(F.trim(_col(text_col))), " ")
    toks = df.select(
        _col(id_col).alias(id_col), F.explode(words).alias("term")
    ).where(F.length("term") > 0)
    freq = toks.groupBy("term").agg(F.count(F.lit(1)).alias("c"))
    total = freq.agg(F.sum("c").alias("_tot"))
    li = F.round(
        F.log10(F.col("c").cast("double") / F.col("_tot").cast("double"))
        * F.lit(1e6)
    ).cast("bigint")
    term_lp = freq.join(F.broadcast(total), how="cross").select(
        "term", li.alias("_li")
    )
    per_doc = toks.join(term_lp, "term").groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_words"), F.sum("_li").alias("_slp")
    )
    # integer ratio in 10^decimals units, portable half-away rounding
    den = F.col("n_words") * F.lit(10 ** (6 - decimals)).cast("bigint")
    mean = F.col("_slp").cast("double") / den.cast("double")
    micro = (F.signum(mean) * F.floor(F.abs(mean) + F.lit(0.5))).cast("bigint")
    return per_doc.select(
        id_col,
        "n_words",
        (micro.cast("double") / F.lit(float(10 ** decimals))).alias(
            "logprob_per_word"
        ),
    )


def unigram_logprob_sql(
    src: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    decimals: int = 6,
) -> str:
    """DuckDB replay of :func:`unigram_logprob` (same tokenization, same
    integer micro-unit quantization, same division/rounding)."""
    return f"""WITH sgs_tok AS (
  SELECT {id_col}, unnest(string_split(lower(trim({text_col})), ' ')) AS term
  FROM {src}
),
sgs_tok2 AS (SELECT * FROM sgs_tok WHERE length(term) > 0),
sgs_freq AS (SELECT term, count(*) AS c FROM sgs_tok2 GROUP BY term),
sgs_tot AS (SELECT sum(c) AS tot FROM sgs_freq),
sgs_lp AS (
  SELECT term,
         cast(round(log10(cast(c AS double) / cast(tot AS double)) * 1e6)
              AS bigint) AS li
  FROM sgs_freq CROSS JOIN sgs_tot
),
sgs_doc AS (
  SELECT t.{id_col}, count(*) AS n_words, sum(l.li) AS slp
  FROM sgs_tok2 t JOIN sgs_lp l USING (term)
  GROUP BY t.{id_col}
),
sgs_mean AS (
  SELECT {id_col}, n_words,
         cast(slp AS double)
           / cast(n_words * {10 ** (6 - decimals)} AS double) AS m
  FROM sgs_doc
)
SELECT {id_col}, cast(n_words AS bigint) AS n_words,
       cast(sign(m) * floor(abs(m) + 0.5) AS bigint)
         / cast({10 ** decimals} AS double) AS logprob_per_word
FROM sgs_mean ORDER BY {id_col}"""


# ------------------------------------------------------------------- TF-IDF
def tfidf_top_terms(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    decimals: int = 6,
) -> DataFrame:
    """(doc, rank, term, tf, df, score): the top-``k`` terms per document by
    smoothed TF-IDF — ``score = tf * (ln((N+1)/(df+1)) + 1)`` rounded to
    ``decimals``, ties broken by term.  The keyword-extraction / quality
    stage of a corpus pipeline.

    Scale shape: one explode + one (doc, term) groupBy (map-side
    combinable), one term-keyed df aggregation joined back on term, the
    corpus size N broadcast from a 1-row aggregate, and the final top-k
    window partitioned by doc (bounded by per-doc vocabulary, never corpus
    size).  Ranking compares the ROUNDED score so the ordering is
    bit-reproducible cross-engine (libm ln may differ in the last ulp)."""
    from pyspark.sql import Window

    words = F.split(F.lower(F.trim(_col(text_col))), " ")
    toks = df.select(
        _col(id_col).alias(id_col), F.explode(words).alias("term")
    ).where(F.length("term") > 0)
    # the (doc, term, tf) relation feeds three branches (df aggregation,
    # corpus-size aggregate, and the scoring join) — materialize it once
    # instead of re-running tokenize+explode+groupBy per branch
    tf = toks.groupBy(id_col, "term").agg(
        F.count(F.lit(1)).alias("tf")
    ).localCheckpoint(eager=True)
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = tf.agg(F.countDistinct(id_col).alias("n_docs"))
    scored = (
        tf.join(dfreq, "term")
        .join(F.broadcast(n_docs), how="cross")
        .select(
            id_col,
            "term",
            "tf",
            "df",
            F.round(
                F.col("tf")
                * (
                    F.log(
                        (F.col("n_docs") + 1).cast("double")
                        / (F.col("df") + 1).cast("double")
                    )
                    + F.lit(1.0)
                ),
                decimals,
            ).alias("score"),
        )
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("score").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(id_col, "rank", "term", "tf", "df", "score")
    )


def tfidf_top_terms_sql(
    src: str = "documents",
    id_col: str = "doc_id",
    k: int = 3,
    decimals: int = 6,
) -> str:
    """DuckDB replay of :func:`tfidf_top_terms` (same smoothing, same
    rounded-score ordering, same tie-break)."""
    return f"""WITH sgs_tok AS (
  SELECT {id_col}, unnest(string_split(lower(trim(text)), ' ')) AS term FROM {src}
),
sgs_tf AS (
  SELECT {id_col}, term, count(*) AS tf FROM sgs_tok
  WHERE length(term) > 0 GROUP BY {id_col}, term
),
sgs_df AS (SELECT term, count(*) AS df FROM sgs_tf GROUP BY term),
sgs_n AS (SELECT count(DISTINCT {id_col}) AS n_docs FROM sgs_tf),
sgs_scored AS (
  SELECT t.{id_col}, t.term, t.tf, d.df,
         round(t.tf * (ln(cast(n.n_docs + 1 AS double)
                          / cast(d.df + 1 AS double)) + 1.0), {decimals}) AS score
  FROM sgs_tf t JOIN sgs_df d USING (term) CROSS JOIN sgs_n n
),
sgs_ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY {id_col} ORDER BY score DESC, term ASC) AS rank
  FROM sgs_scored
)
SELECT {id_col}, cast(rank AS int) AS rank, term, tf, df, score
FROM sgs_ranked WHERE rank <= {k}"""


def plant_common_lines(
    df: DataFrame,
    boiler: str = "subscribe to our newsletter for updates",
    every: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
    salt: str = "boiler:",
) -> DataFrame:
    """Test-fixture planter (same pattern as plant_neardup_conversations):
    prepend a boilerplate line to every hash-picked document so line-level
    corpus dedup has known positives in a corpus without shared lines.
    Deterministic — the DuckDB oracle replays the exact planted set."""
    if every <= 0:
        raise ValueError("every must be positive")
    picked = portable_hash64(F.col(id_col), salt) % every == 0
    planted = F.when(
        picked, F.concat(F.lit(boiler + "\n"), F.col(text_col))
    ).otherwise(F.col(text_col))
    return df.withColumn(text_col, planted)


def plant_common_lines_sql(
    src_sql: str,
    boiler: str = "subscribe to our newsletter for updates",
    every: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
    salt: str = "boiler:",
) -> str:
    """DuckDB replay of :func:`plant_common_lines` — returns a SELECT with
    the same columns, ``text_col`` rewritten."""
    from sketches_go_spark.functions.expressions import (
        portable_hash64_sql_duckdb,
    )

    pick = portable_hash64_sql_duckdb(id_col, salt)
    boiler_lit = boiler.replace("'", "''")
    return f"""SELECT * REPLACE (
  CASE WHEN {pick} % {int(every)} = 0
       THEN concat('{boiler_lit}', chr(10), {text_col})
       ELSE {text_col} END AS {text_col}
) FROM ({src_sql})"""


def strip_common_lines(
    df: DataFrame,
    min_docs: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """C4-style corpus line dedup: drop every line whose normalized form
    (lower+trim) occurs in >= ``min_docs`` DISTINCT documents (navigation
    chrome, subscribe prompts, license footers), then reassemble each
    document's remaining lines in their original order.  Documents whose
    every line is boilerplate disappear (nothing left to keep).

    Scale shape: explode to (doc, idx, line) — one pass; the common-line
    relation is built with a count-distinct aggregation and is SMALL by
    construction (only lines crossing the min_docs bar), so it BROADCASTS
    into a map-side anti-join exactly like strip_boilerplate; reassembly is
    the one doc-keyed shuffle.  Empty lines are never counted as common and
    always survive."""
    if min_docs < 2:
        raise ValueError("min_docs must be >= 2")
    d = df.where(F.col(text_col).isNotNull())
    lines = d.select(
        id_col, F.posexplode(F.split(F.col(text_col), "\n")).alias("idx", "line")
    )
    key = F.lower(F.trim(F.col("line")))
    common = (
        lines.where(F.length(key) > 0)
        .groupBy(key.alias("_k"))
        .agg(F.countDistinct(id_col).alias("_nd"))
        .where(F.col("_nd") >= min_docs)
        .select("_k")
    )
    kept = lines.join(F.broadcast(common), key == F.col("_k"), "left_anti")
    return kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("idx", "line"))),
                lambda x: x["line"],
            ),
            "\n",
        ).alias(text_col)
    )


def strip_common_lines_sql(
    src_sql: str,
    min_docs: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    """DuckDB replay of :func:`strip_common_lines`."""
    if min_docs < 2:
        raise ValueError("min_docs must be >= 2")
    return f"""WITH sgs_scl_base AS (
  SELECT {id_col}, string_split({text_col}, chr(10)) AS ls
  FROM ({src_sql}) WHERE {text_col} IS NOT NULL
),
sgs_scl_lines AS (
  SELECT {id_col}, cast(u.i AS int) AS idx, ls[cast(u.i AS int) + 1] AS line
  FROM sgs_scl_base
  CROSS JOIN LATERAL (SELECT unnest(range(len(ls))) AS i) u
),
sgs_scl_common AS (
  SELECT lower(trim(line)) AS k
  FROM sgs_scl_lines
  WHERE length(trim(line)) > 0
  GROUP BY k HAVING count(DISTINCT {id_col}) >= {int(min_docs)}
)
SELECT {id_col}, string_agg(line, chr(10) ORDER BY idx) AS {text_col}
FROM sgs_scl_lines
WHERE lower(trim(line)) NOT IN (SELECT k FROM sgs_scl_common)
GROUP BY {id_col}"""
