"""fastText-style language-ID: n-gram linear model, hermetic + vectorized.

The north rule calls for fastText langid as a vectorized pandas/Arrow
UDF stage. fastText itself is unavailable offline, so this is a
self-contained model of the same *shape*: text → bag of features
(lowercased word unigrams + character n-grams + a CJK char feature)
→ linear scores per language → argmax + softmax confidence. Weights
derive deterministically from built-in per-language lexicons (public
stopword lists) — the model is a pure function of this file.

Scoring is exact-match (a dict over the ~90 weighted features) rather
than hashed-bucket: with a lexicon this small, hashing adds only
collision noise, and the exact form admits full C-level
vectorization — token explode + dict map for words, compiled
overlapping-count regexes for char grams — ~50× faster per core than
a per-feature Python loop, which matters because this UDF dominates
pipeline wall-clock (perfbench's `scoring` layer). The feature COUNT normalizer still
counts every fastText-shape feature (1 word + all 2/3-grams of
'<word>' per token + 1 per CJK char), computed in closed form.

Both the Spark operator (operators/scoring.py) and the pytest oracle
call `predict_batch` here — the two sides cannot diverge.

Reference analog: the per-container model-load-once + batched encode
pattern of /root/reference/features.py:92-101,135-145.
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd

LANGS = ["en", "fr", "de", "es", "zh", "und"]
_UND = LANGS.index("und")
_ZH = LANGS.index("zh")

# Distinctive high-frequency words per language (public-knowledge
# stopword lists, truncated). Weight = 3.0 per occurrence.
LEXICONS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "it", "was",
           "for", "with", "are", "this", "not", "have", "you", "they"],
    "fr": ["le", "la", "les", "des", "est", "dans", "une", "pour",
           "que", "qui", "sur", "avec", "pas", "nous", "vous", "mais"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "eine",
           "mit", "auf", "sich", "auch", "sind", "wird", "dem", "den"],
    "es": ["el", "los", "las", "es", "una", "por", "con", "para",
           "del", "se", "su", "al", "como", "pero", "sus", "este"],
    # zh is recognized via the CJK character feature below.
    "zh": [],
}

# Character n-grams distinctive per language (accents and frequent
# digraph contexts). Weight = 1.5 per (overlapping) occurrence.
CHAR_LEXICONS: dict[str, list[str]] = {
    "en": ["th", "ing", "ion"],
    "fr": ["é", "è", "ç", "à", "eau", "oux", "ais"],
    "de": ["ä", "ö", "ü", "ß", "sch", "ich", "ein"],
    "es": ["ñ", "ó", "í", "ción", "á", "ado"],
    "zh": [],
}

WORD_WEIGHT = np.float32(3.0)
GRAM_WEIGHT = np.float32(1.5)
CJK_WEIGHT = np.float32(5.0)

_CJK_RE = re.compile("[一-鿿㐀-䶿]")
# ASCII-pinned whitespace run (same class as the SQL renderings —
# see gopher_rules.WS_EDGE_CHARS rationale)
_WS_RUN = re.compile(r"[ \t\n\x0b\f\r]+")


def build_weights():
    """Model = (word→weight-vector dict, [(compiled overlap-count
    regex, lang index, weight)]). Pure function of this file; cheap
    enough to rebuild once per task (the reference's @enter pattern)."""
    word_w: dict[str, np.ndarray] = {}
    for li, lang in enumerate(LANGS[:-1]):
        for w in LEXICONS[lang]:
            vec = word_w.setdefault(w, np.zeros(len(LANGS), dtype=np.float32))
            vec[li] += WORD_WEIGHT
    gram_w = [
        (re.compile("(?=" + re.escape(g) + ")"), li, GRAM_WEIGHT)
        for li, lang in enumerate(LANGS[:-1])
        for g in CHAR_LEXICONS[lang]
    ]
    return word_w, gram_w


def predict_batch(texts: list[str], model=None) -> tuple[list[str], np.ndarray]:
    """Vectorized batch scoring → (lang_pred list, confidence float32).

    Scores L1-normalized by the fastText-shape feature count
    (per token: 1 word + (L+1) 2-grams + L 3-grams of '<word>';
    plus 1 per CJK char); argmax with an 'und' floor (fewer than 3
    features, or best score ≤ 0). Confidence = float32 softmax.
    """
    if model is None:
        model = _MODEL
    word_w, gram_w = model
    n = len(texts)
    s = (
        texts.reset_index(drop=True)
        if isinstance(texts, pd.Series)
        else pd.Series(texts, dtype="object")
    ).fillna("")
    # ASCII-pinned whitespace normalization (same class as the SQL
    # rendering): collapse runs to one space + strip — `joined` is then
    # the space-joined token string directly, and split(' ') recovers
    # the tokens without a second regex pass.
    joined = s.str.lower().str.replace(_WS_RUN, " ", regex=True).str.strip(" ")
    lens = joined.str.len().to_numpy(np.int64)
    toks = joined.str.split(" ")
    n_words = np.where(lens == 0, 0, toks.str.len().to_numpy(np.int64))
    tok_chars = lens - np.maximum(n_words - 1, 0)
    cjk = joined.str.count(_CJK_RE).to_numpy(np.int64)
    # per token 2L+2 features (1 word, L+1 bigrams, L trigrams of '<w>')
    n_feats = 2 * tok_chars + 2 * n_words + cjk

    scores = np.zeros((n, len(LANGS)), dtype=np.float32)
    ex = toks.explode()
    hit = ex.map(word_w)
    hit = hit[hit.notna()]
    if len(hit):
        rows = hit.index.to_numpy(np.int64)
        np.add.at(scores, rows, np.stack(hit.to_numpy()))
    for creg, li, w in gram_w:
        cnt = joined.str.count(creg).to_numpy()
        if cnt.any():
            scores[:, li] += w * cnt.astype(np.float32)
    scores[:, _ZH] += CJK_WEIGHT * cjk.astype(np.float32)

    sc = scores / np.maximum(n_feats, 1).astype(np.float32)[:, None]
    best = sc.argmax(axis=1)
    idx = np.arange(n)
    best = np.where(sc[idx, best] <= 0.0, _UND, best)
    e = np.exp(sc - sc.max(axis=1, keepdims=True), dtype=np.float32)
    conf = (e[idx, best] / e.sum(axis=1)).astype(np.float32)

    valid = n_feats >= 3
    preds = [LANGS[b] if v else "und" for b, v in zip(best, valid)]
    confs = np.where(valid, conf, np.float32(1.0)).astype(np.float32)
    return preds, confs


def predict_one(text: str) -> tuple[str, float]:
    p, c = predict_batch([text])
    return p[0], float(c[0])


_MODEL = build_weights()


# ---------------------------------------------------------------------------
# SQL rendering of lang_pred (both dialects) — the relational argmax.
#
# The prediction is EXACTLY re-derivable in integer arithmetic: every
# weight is a multiple of 0.5 (3.0 / 1.5 / 5.0), so 2×score is the
# integer 6·wordhits + 3·gramhits (+10·cjk for zh), and the float32
# L1 normalization divides all languages by the SAME positive
# n_feats — argmax over the integers equals the model's float argmax
# (ties broken by LANGS index order, mirrored by CASE order). The
# softmax confidence is float-only and deliberately NOT rendered.
#
# Gram-count identity: occurrence counting via replace() is
# NON-overlapping, the model's regex lookahead count is overlapping;
# they agree because every char lexicon entry is border-free (no
# proper prefix == suffix), asserted below at import time.
# ---------------------------------------------------------------------------


def _has_border(g: str) -> bool:
    return any(g[:k] == g[-k:] for k in range(1, len(g)))


for _lang, _grams in CHAR_LEXICONS.items():
    for _g in _grams:
        assert len(_g) == 1 or not _has_border(_g), (
            f"char gram {_g!r} is self-overlapping; replace-count "
            "rendering would undercount vs the regex lookahead spec"
        )


def langid_select_sql(
    d: str,
    table: str = "documents",
    text_col: str = "text",
    key_cols: str = "doc_id",
) -> str:
    """SELECT key_cols, lang_pred — mirrors predict_batch's label."""
    from ..functions import sqldialect as sd

    # joined = ws-collapsed + stripped lowercase text (ASCII ws class)
    ws_run = "[ " + chr(9) + chr(10) + chr(11) + chr(12) + chr(13) + "]+"
    collapsed = sd.regexp_replace_all(
        f"lower(coalesce({text_col}, ''))", ws_run, " ", d
    )
    if d == sd.SPARK:
        joined = f"btrim({collapsed}, ' ')"
    else:
        joined = f"trim({collapsed}, ' ')"

    nw = (
        "CASE WHEN length(joined) = 0 THEN 0 ELSE "
        "length(joined) - length(replace(joined, ' ', '')) + 1 END"
    )
    cjk_pat = "[一-鿿㐀-䶿]"
    cjk = (
        f"length(joined) - length({sd.regexp_replace_all('joined', cjk_pat, '', d)})"
    )

    def word_hits(lang: str) -> str:
        if not LEXICONS[lang]:
            return "0"
        in_list = ", ".join(f"'{w}'" for w in LEXICONS[lang])
        toks = "split(joined, ' ')" if d == sd.SPARK else "string_split(joined, ' ')"
        filt = sd.arr_filter(toks, f"t -> t IN ({in_list})", d)
        return sd.arr_len(filt, d)

    def gram_hits(lang: str) -> str:
        gs = CHAR_LEXICONS[lang]
        if not gs:
            return "0"
        terms = []
        for g in gs:
            lit = g.replace("'", "''")
            terms.append(
                f"(length(joined) - length(replace(joined, '{lit}', ''))) / {len(g)}"
            )
        return "(" + " + ".join(terms) + ")"

    score_cols = []
    for lang in LANGS[:-1]:
        parts = [f"6 * ({word_hits(lang)})", f"3 * ({gram_hits(lang)})"]
        if lang == "zh":
            parts.append("10 * cjk")
        score_cols.append(
            f"CAST({' + '.join(parts)} AS BIGINT) AS s_{lang}"
        )

    best = "greatest(s_en, s_fr, s_de, s_es, s_zh)"
    pred_case = (
        f"CASE WHEN n_feats < 3 OR {best} <= 0 THEN 'und' "
        + " ".join(
            f"WHEN s_{lang} = {best} THEN '{lang}'" for lang in LANGS[:-1]
        )
        + " ELSE 'und' END"
    )

    base = f"SELECT {key_cols}, {joined} AS joined FROM {table}"
    # cjk referenced twice (zh score + n_feats) — stage it as a column
    with_cjk = f"SELECT {key_cols}, joined, {cjk} AS cjk FROM ({base})"
    inner = (
        f"SELECT {key_cols}, joined, cjk, "
        f"CAST(2 * length(replace(joined, ' ', '')) + 2 * ({nw}) + cjk AS BIGINT) AS n_feats "
        f"FROM ({with_cjk})"
    )
    scored = (
        f"SELECT {key_cols}, n_feats, {', '.join(score_cols)} FROM ({inner})"
    )
    return f"SELECT {key_cols}, {pred_case} AS lang_pred FROM ({scored})"
