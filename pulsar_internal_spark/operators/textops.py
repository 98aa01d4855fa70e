"""Text-analysis operators for training-data pipelines.

Driver-mandated extensions (SURVEY.md §7 Phase 4): language ID, quality
scoring, token counting, document fingerprinting. All JVM-side column
expressions (regexp/split/aggregate) — no UDFs in these paths, so they
whole-stage-codegen and scale linearly with input splits.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .dedup import normalized_text
from ..staging import stage

# tiny per-language stopword marker sets for the n-gram/keyword heuristic
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "is"),
    "es": ("el", "la", "de", "que", "los"),
    "de": ("der", "und", "die", "das", "ist"),
    "fr": ("le", "et", "les", "des", "est"),
    "zh": ("de", "shi", "le", "zai", "you"),
}


def _marker_hits(text_col, markers: tuple[str, ...]):
    pat = r"\b(" + "|".join(markers) + r")\b"
    return F.regexp_count(normalized_text(text_col), F.lit(pat))


def _marker_hits_on(norm_col, markers: tuple[str, ...]):
    pat = r"\b(" + "|".join(markers) + r")\b"
    return F.regexp_count(norm_col, F.lit(pat))


def lang_hits(norm_col):
    """Array of per-language marker-hit counts over a staged normalized
    text column, in sorted-language order — compute once, consume many."""
    return F.array(
        *[_marker_hits_on(norm_col, m) for _, m in sorted(LANG_MARKERS.items())]
    )


def lang_id_from(hits_col):
    """argmax over a staged lang_hits array (hits evaluated exactly
    once per row, vs ~3x per language in the inline form)."""
    langs = sorted(LANG_MARKERS)
    scores = [
        (lang, F.element_at(hits_col, i + 1)) for i, lang in enumerate(langs)
    ]
    return _argmax_lang(scores)


def _argmax_lang(scores):
    best = F.greatest(*[s for _, s in scores])
    pred = F.lit("und")
    # reversed so earlier (alphabetically first) languages win ties
    for lang, s in reversed(scores):
        pred = F.when((best > 0) & (s == best), F.lit(lang)).otherwise(pred)
    return pred


def token_count(text_col: str = "text"):
    """Whitespace token count."""
    t = F.trim(F.col(text_col))
    return F.when(F.length(t) == 0, F.lit(0)).otherwise(
        F.size(F.split(t, r"\s+"))
    )


def bpe_ish_token_count(text_col: str = "text"):
    """BPE-ish subword proxy: count of word/number/punctuation units
    (regex `\\w+|[^\\w\\s]`), the standard pre-tokenizer shape. This is
    an APPROXIMATION (pre-tokenizer unit count, no merges); for counts
    under an actually-learned merge list see bpe_learn_merges /
    bpe_apply_merge and the bpe_encode_tokens query, whose
    n_tokens_bpe is the real post-merge symbol count."""
    return F.regexp_count(F.col(text_col), F.lit(r"\w+|[^\w\s]"))


def bpe_apply_merge(tokens, a: str, b: str):
    """Apply ONE BPE merge (a, b) -> "a b" to a token-array column with
    greedy LEFT-TO-RIGHT non-overlapping semantics (Sennrich et al.
    2016): scan the array once; whenever the last emitted symbol is
    exactly ``a`` and the next token is exactly ``b``, fuse them. A
    fused symbol can immediately participate as the LEFT side of the
    next comparison but never re-consumes its own right half — which is
    precisely greedy BPE (for the self-pair (x, x) over "x x x x" this
    yields [xx, xx], never [x, xx, x]).

    One JVM-side aggregate fold over the array — no shuffle, no UDF,
    O(doc length) per row. The accumulator-array concat makes a fold
    step O(prefix) — fine at document scale (arrays are doc-length,
    not corpus-length)."""
    merged = F.lit(a + " " + b)

    def step(acc, t):
        can = (
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(a))
            & (t == F.lit(b))
        )
        return F.when(
            can,
            F.concat(F.slice(acc, 1, F.size(acc) - 1), F.array(merged)),
        ).otherwise(F.concat(acc, F.array(t)))

    return F.aggregate(tokens, F.array().cast("array<string>"), step)


def bpe_learn_merges(toks, n_merges: int, tokens_col: str = "w"):
    """Learn ``n_merges`` BPE merge rounds over a token-array frame
    (Sennrich et al. 2016, at the suite's word granularity — see
    bpe_pair_merges for the single-round aggregate): each round counts
    adjacent symbol pairs over the CURRENT segmentation with one
    partial-aggregated groupBy, takes the argmax (ties broken by
    (a, b) ascending — deterministic and oracle-reproducible), applies
    it everywhere via bpe_apply_merge, and re-materializes. Returns
    (merge list, final re-segmented DataFrame).

    Scale shape: per round, ONE corpus-scan aggregate (hot
    function-word pairs combine map-side) + ONE narrow rewrite; the
    driver receives exactly one row per round. The per-round
    staging.stage stops fold-of-fold lineage growth (same idiom as
    graph CC) — except after the FINAL round, whose rewrite no later
    aggregate re-reads (round 11: staging it was a wasted full
    materialization pass; the caller consumes the returned frame
    once). On a cluster with elastic executors prefer reliable
    checkpoint(dir) or a parquet round-trip for the re-segmentation."""
    merges: list[tuple[str, str]] = []
    cur = toks
    wc = F.col(tokens_col)
    for rnd in range(n_merges):
        pairs = cur.select(
            F.explode(
                F.when(
                    F.size(wc) >= 2,
                    F.transform(
                        F.sequence(F.lit(1), F.size(wc) - 1),
                        lambda i: F.struct(
                            F.element_at(wc, i).alias("a"),
                            F.element_at(wc, i + 1).alias("b"),
                        ),
                    ),
                ).otherwise(F.array().cast("array<struct<a:string,b:string>>"))
            ).alias("p")
        ).select("p.a", "p.b")
        top = (
            pairs.groupBy("a", "b")
            .agg(F.count(F.lit(1)).alias("n"))
            .orderBy(F.desc("n"), "a", "b")
            .limit(1)
            .collect()
        )
        if not top:
            break
        a, b = top[0]["a"], top[0]["b"]
        merges.append((a, b))
        cur = cur.withColumn(tokens_col, bpe_apply_merge(wc, a, b))
        if rnd != n_merges - 1:
            cur = stage(cur)
    return merges, cur


def quality_features(text_col: str = "text"):
    """Struct of quality signals: n_tokens, avg_token_len, punct_ratio,
    stopword_ratio, alpha_ratio."""
    n_tok = token_count(text_col)
    n_chars = F.length(F.col(text_col))
    punct = F.regexp_count(F.col(text_col), F.lit(r"[^\w\s]"))
    alpha = F.regexp_count(F.col(text_col), F.lit(r"[A-Za-z]"))
    stop = _marker_hits(text_col, LANG_MARKERS["en"])
    safe_tok = F.when(n_tok == 0, F.lit(1)).otherwise(n_tok)
    safe_chars = F.when(n_chars == 0, F.lit(1)).otherwise(n_chars)
    return F.struct(
        n_tok.alias("n_tokens"),
        F.round(n_chars / safe_tok, 4).alias("avg_token_len"),
        F.round(punct / safe_chars, 4).alias("punct_ratio"),
        F.round(stop / safe_tok, 4).alias("stopword_ratio"),
        F.round(alpha / safe_chars, 4).alias("alpha_ratio"),
    )


def quality_score(text_col: str = "text"):
    """Scalar quality score in [0,1]: rewards stopword presence and
    sane token lengths, penalizes punctuation soup. Deterministic,
    rounded for oracle comparison."""
    return quality_score_from(quality_features(text_col))


def quality_score_from(f):
    """Score from an (ideally staged — see shingles_of note in dedup.py)
    quality_features struct column, so the regexp features are computed
    once, not re-derived per consumer."""
    score = (
        F.least(f["stopword_ratio"] * 2.0, F.lit(1.0)) * 0.4
        + F.when((f["avg_token_len"] >= 3) & (f["avg_token_len"] <= 10), 1.0)
        .otherwise(0.3)
        * 0.3
        + (1.0 - F.least(f["punct_ratio"] * 5.0, F.lit(1.0))) * 0.3
    )
    return F.round(score, 4)


def fingerprint(text_col: str = "text"):
    """Document fingerprint: sha2 over the whitespace-normalized,
    lowercased text — the scalable stand-in for the reference's memoized
    script hash (script.hpp:74-133)."""
    return F.sha2(normalized_text(text_col), 256)


def is_binary_like(text_col: str = "text"):
    """The reference's IsLuauBytecode heuristic, exact semantics
    (closures.hpp:229-251): len >= 4 AND first char code <= 10 AND
    len > 8 AND strictly more than min(len,100)/5 (integer division) of
    the head chars are control chars < 0x20 excluding tab/LF/CR. Note
    the conjunction: a control first byte alone does NOT flag, and
    non-ASCII printable codepoints never count as non-printable."""
    txt = F.col(text_col)
    head = F.substring(txt, 1, 100)
    # keep ONLY the counted control chars (< 0x20 minus \t\n\r), count
    nonprint = F.length(
        F.regexp_replace(head, r"[^\x00-\x08\x0b\x0c\x0e-\x1f]", "")
    )
    return (
        (F.length(txt) >= 4)
        & (F.ascii(txt) <= 10)
        & (F.length(txt) > 8)
        & (nonprint > F.floor(F.least(F.length(txt), F.lit(100)) / 5))
    )
