"""Text analysis for training-data pipelines (BASELINE.json north star):
language ID, quality scoring, token counting, repetition ratio.

Two implementation families live here:

* built-in expressions (split/regexp/length) — run inside the
  scan stage; on 100 TB of documents the cost is one codegen'd pass;
* ``mapInArrow`` batch kernels (``gate_metrics_arrow``,
  ``text_metrics_arrow``) — vectorized twins of the expression forms.
  These require pyarrow+numpy on the Python executors; the expression
  forms remain the equivalence reference (and, for the gate, the
  ``vectorized=False`` escape hatch for Python-less executor images).
"""

from __future__ import annotations

import functools
import operator

from pyspark.sql import Column
from pyspark.sql import functions as F


def _in_list(x: Column, words: list[str]) -> Column:
    # `Column.isin` misbehaves on lambda variables inside higher-order
    # functions; an OR-chain of equality comparisons compiles cleanly.
    return functools.reduce(operator.or_, [x == w for w in words])

# Tiny per-language stopword lists for the n-gram/stopword-ratio heuristic
# language ID. Deliberately small and deterministic — real models are
# pluggable behind the same column signature.
STOPWORDS = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "that", "it", "for"],
    "es": ["el", "la", "de", "y", "que", "en", "un", "es", "se", "no"],
    "fr": ["le", "la", "de", "et", "que", "en", "un", "est", "se", "ne"],
    "de": ["der", "die", "das", "und", "zu", "in", "ist", "den", "von", "mit"],
}


def tokens(text: Column) -> Column:
    """Whitespace tokenization (split on runs of whitespace, no empties)."""
    return F.filter(F.split(text, r"\s+"), lambda t: F.length(t) > 0)


def token_count(text: Column) -> Column:
    return F.size(tokens(text))


def bpe_ish_token_count(text: Column) -> Column:
    """BPE-ish proxy: count word pieces + punctuation via regex splits.
    Approximates subword token counts within ~15% on English text."""
    pieces = F.filter(
        F.split(text, r"[^A-Za-z0-9]+"), lambda t: F.length(t) > 0)
    # ~4 chars per subword token piece, plus punctuation marks count.
    subword = F.aggregate(
        pieces, F.lit(0),
        lambda acc, p: acc + F.greatest(F.ceil(F.length(p) / 4.0).cast("int"), F.lit(1)))
    # punct count via length diff (a per-char HOF would run interpreted)
    punct = F.length(text) - F.length(F.regexp_replace(text, r"[^\sA-Za-z0-9]", ""))
    return (subword + punct).cast("int")


def avg_token_len(text: Column) -> Column:
    t = tokens(text)
    return F.when(F.size(t) > 0,
                  F.aggregate(t, F.lit(0), lambda a, x: a + F.length(x)).cast("double")
                  / F.size(t).cast("double")).otherwise(F.lit(0.0))


def punct_ratio(text: Column) -> Column:
    """Non-alphanumeric, non-space chars / total chars."""
    n = F.length(text)
    p = n - F.length(F.regexp_replace(text, r"[^A-Za-z0-9\s]", ""))
    return F.when(n > 0, p.cast("double") / n.cast("double")).otherwise(F.lit(0.0))


def quality_score(text: Column) -> Column:
    """Composite quality heuristic in [0,1]: length sweet-spot + low punct
    + plausible token length. Deterministic column arithmetic.

    r12 optimization: the token-length score folds sum and count into ONE
    ``aggregate`` whose ``finish`` lambda emits the score directly — the
    former ``avg_token_len`` form spelled the split + fold out once per
    ``atl`` reference plus a separate ``size(t)``, leaving the sharing to
    runtime subexpression elimination (a courtesy, not a contract); the
    single-aggregate form does one token pass by construction. Values
    are bit-identical: same integer sum/count, same cast-then-divide,
    same comparisons — the empty-token case (count 0) takes the 0.5
    branch exactly as ``atl = 0.0`` did, and NULL text still scores 0.0
    via the guard."""
    n = F.length(text)
    len_score = F.when(n < 50, n.cast("double") / 50.0) \
                 .when(n > 20000, F.lit(0.25)) \
                 .otherwise(F.lit(1.0))
    punct_penalty = F.least(punct_ratio(text) * 2.0, F.lit(1.0))

    def _tok_finish(acc):
        atl = acc["s"].cast("double") / acc["c"].cast("double")
        return F.when((acc["c"] > 0) & (atl >= 3.0) & (atl <= 10.0),
                      F.lit(1.0)).otherwise(F.lit(0.5))

    tok_score = F.aggregate(
        tokens(text),
        F.struct(F.lit(0).alias("s"), F.lit(0).alias("c")),
        lambda acc, x: F.struct((acc["s"] + F.length(x)).alias("s"),
                                (acc["c"] + F.lit(1)).alias("c")),
        _tok_finish)
    score = len_score * 0.4 + (F.lit(1.0) - punct_penalty) * 0.3 + tok_score * 0.3
    # NULL text scores 0, not 0.85: without the guard both length CASE
    # arms are null→false and len_score falls through to the 1.0 branch —
    # a missing document would outrank short real text
    return F.when(n.isNull(), F.lit(0.0)) \
            .otherwise(F.least(F.greatest(score, F.lit(0.0)), F.lit(1.0)))


def lang_id(text: Column) -> Column:
    """Stopword-vote language ID: the language with the highest stopword
    hit count wins; ties break by priority order (en, es, fr, de); 'und'
    when every list scores zero.

    r12 optimization: ONE ``aggregate`` pass accumulates every language's
    hit count in a struct, and the argmax/tie-break CASE runs in the
    ``finish`` lambda over the final accumulator. The former
    filter-per-language form embedded a full copy of the lowered split +
    filter into every ``greatest`` argument and every CASE branch (~24
    textual copies); runtime subexpression elimination recovered most of
    that, so the measured win is a steady ~15% on the metrics projection
    — kept because the single-pass form also guarantees the sharing
    (subexpr elimination is an optimizer courtesy, not a contract) and
    does one token pass instead of one filter pass per language. Same
    counts, same tie-break order, same output."""
    t = tokens(F.lower(text))
    langs = list(STOPWORDS)  # dict order IS the tie-break priority

    def _merge(acc, x):
        # closure factory: PySpark binds a Column to EVERY lambda
        # parameter, defaults included.
        return F.struct(*[
            (acc[lang] + F.when((lambda ws: _in_list(x, ws))(STOPWORDS[lang]),
                                1).otherwise(0)).alias(lang)
            for lang in langs])

    def _finish(acc):
        m = F.greatest(*[acc[lang] for lang in langs])
        expr = F.when(m == 0, F.lit("und"))
        for lang in langs:
            expr = expr.when(acc[lang] == m, F.lit(lang))
        return expr.otherwise(F.lit("und"))

    # NULL text: the old CASE form fell through every NULL comparison to
    # 'und'; aggregate over a NULL array yields NULL instead — coalesce
    # restores 'und' without referencing (re-evaluating) ``t`` twice.
    return F.coalesce(
        F.aggregate(t, F.struct(*[F.lit(0).alias(lang) for lang in langs]),
                    _merge, _finish),
        F.lit("und"))


# ---------------------------------------------------------------------------
# Vectorized (Arrow) twin of the curation-gate metrics.
#
# The gate's three per-doc metrics (lang_id, quality_score, token_count)
# are HOF-heavy JVM expressions: `aggregate`/`filter` lambdas evaluate
# interpreted per array element, ~0.5 ms/doc on realistic text — the
# dominant CPU of the curation scan stage. Guide §4.2: hand whole Arrow
# batches to native code instead. One mapInArrow pass computes all three
# metrics per batch (regex + dict lookups in C-backed Python, constructed
# once per worker at module import), and passes the text buffer through
# zero-copy. Measured 1.9x on the metrics stage at sf0.1 (interleaved
# A/B, min-of-7: 0.832 s -> 0.436 s).
#
# Exactness contract (pinned by test_gate_arrow_kernel_matches_exprs and
# the curation_pipeline oracle): `_doc_gate_metrics` is a BIT-EXACT twin
# of the column expressions —
#   * Java regex \s is ASCII-only [ \t\n\x0B\f\r]; Python's \s is
#     unicode-aware, so the explicit class is spelled out;
#   * Spark length() counts code points, as does Python len();
#   * the quality arithmetic replays the exact expression-tree order in
#     IEEE doubles ((len*0.4 + (1-pp)*0.3) + tok*0.3);
#   * lang tie-break = first max in STOPWORDS order; NULL text -> 'und',
#     quality 0.0, n_tokens NULL — all per the expression semantics.
# Any edit to lang_id/quality_score/token_count above MUST be mirrored
# here (the equivalence test fails loudly if not).
# ---------------------------------------------------------------------------

import re as _re

_JAVA_WS = " \t\n\x0b\x0c\r"                      # Java regex \s (ASCII)
_WS_RE = _re.compile(f"[{_JAVA_WS}]+")
_PUNCT_RE = _re.compile(f"[^A-Za-z0-9{_JAVA_WS}]")
_LANG_ORDER = list(STOPWORDS)                      # dict order = tie-break
_STOP_LOOKUP: dict = {}
for _li, _lang in enumerate(_LANG_ORDER):
    for _w in STOPWORDS[_lang]:
        _STOP_LOOKUP.setdefault(_w, []).append(_li)


def _doc_gate_metrics(s):
    """(lang, quality, n_tokens) for one document — the pure-Python
    bit-exact twin of (lang_id, quality_score, token_count)."""
    if s is None:
        return ("und", 0.0, None)
    toks = [t for t in _WS_RE.split(s) if t]
    c = len(toks)
    sum_len = 0
    for t in toks:
        sum_len += len(t)
    counts = [0] * len(_LANG_ORDER)
    for t in _WS_RE.split(s.lower()):
        hit = _STOP_LOOKUP.get(t)
        if hit:
            for li in hit:
                counts[li] += 1
    m = max(counts)
    lang = "und" if m == 0 else _LANG_ORDER[counts.index(m)]
    n = len(s)
    if n < 50:
        len_score = n / 50.0
    elif n > 20000:
        len_score = 0.25
    else:
        len_score = 1.0
    p = len(_PUNCT_RE.findall(s))
    pr = p / n if n > 0 else 0.0
    pp = pr * 2.0
    if pp > 1.0:
        pp = 1.0
    if c > 0:
        atl = sum_len / c
        tok = 1.0 if 3.0 <= atl <= 10.0 else 0.5
    else:
        tok = 0.5
    score = len_score * 0.4 + (1.0 - pp) * 0.3 + tok * 0.3
    return (lang, min(max(score, 0.0), 1.0), c)


_ALNUM_SPLIT_RE = _re.compile("[^A-Za-z0-9]+")


# ---------------------------------------------------------------------------
# r13: byte-level vectorized kernel bodies (guide §4.2 — the r12 kernels
# moved the JVM→Python boundary to Arrow but still looped per document in
# interpreted Python; the 8-vs-32-core scaling ratio of text_metrics (0.80)
# showed per-worker kernel CPU dominating). Every character class these
# metrics use is ASCII, and in UTF-8 an ASCII byte never occurs inside a
# multi-byte sequence — so token/whitespace/punct/piece counting runs as
# numpy lookup-table + cumsum passes DIRECTLY over the Arrow string value
# buffer, one O(bytes) vectorized pass per metric instead of a Python loop
# per document per token. The scalar `_doc_gate_metrics`/`_doc_text_metrics`
# twins above remain the pinned equivalence references (and the bit-exact
# contract vs the JVM expressions is unchanged — same pinned tests).
#
# Per-metric mapping (validated bit-for-bit on sf0.1 + the unicode fuzz):
#   * n            = code points  = count of non-continuation bytes
#                    (pyarrow's utf8_length — already a C++ kernel);
#   * n_tokens     = count of non-ws bytes whose predecessor (within the
#                    document) is ws-or-document-start;
#   * sum_token_len= n − count(ws bytes)   (ws is ASCII, 1 byte = 1 cp);
#   * punct        = count of code-point-start bytes that are neither
#                    ASCII alnum nor ws (any non-ASCII lead byte counts,
#                    exactly like the `[^A-Za-z0-9\s]` class);
#   * Σ ceil(len(piece)/4) over alnum pieces = count of alnum bytes whose
#                    offset within their alnum run is ≡ 0 (mod 4);
#   * stopword hits: tokens of the Python-str.lower()ed text (NOT
#                    pyarrow's utf8_lower — utf8proc simple-lowers İ to
#                    "i" where Python/Java full-lower yields "i̇", so a
#                    token "İN" would falsely match stopword "in"),
#                    matched by packing ≤4-byte tokens into uint32s and
#                    binary-searching the packed stopword table.
# The float arithmetic (avg_token_len, punct_ratio, quality) is elementwise
# numpy float64 with the same per-element operation order as the scalar
# twin, so it is IEEE-bit-identical by construction; the only reductions
# (counts, byte sums) are integer and therefore exact.
# ---------------------------------------------------------------------------

import numpy as _npx

_WS_BYTES = _JAVA_WS.encode("ascii")
_LUT_WS = _npx.zeros(256, _npx.bool_)
_LUT_WS[list(_WS_BYTES)] = True
_LUT_ALNUM = _npx.zeros(256, _npx.bool_)
for _b in (b"0123456789"
           b"ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz"):
    _LUT_ALNUM[_b] = True
# code-point-start byte that the `[^A-Za-z0-9\s]` punct class matches:
# ASCII non-alnum non-ws, or any UTF-8 lead byte (non-ASCII is never
# alnum/ws); continuation bytes (0x80-0xBF) are not code points.
_LUT_PUNCT = _npx.zeros(256, _npx.bool_)
for _b in range(0x80):
    _LUT_PUNCT[_b] = not (_LUT_ALNUM[_b] or _LUT_WS[_b])
for _b in range(0xC0, 0x100):
    _LUT_PUNCT[_b] = True

# packed stopword table: every stopword is ASCII and ≤4 bytes, so a
# little-endian uint32 of the token bytes is a collision-free key.
_SW_MAXW = max(len(w) for ws in STOPWORDS.values() for w in ws)
assert _SW_MAXW <= 4, "packed stopword match assumes words fit a uint32"
_SW_WORDS = sorted({w for ws in STOPWORDS.values() for w in ws})


def _pack_word(w: str) -> int:
    v = 0
    for j, ch in enumerate(w.encode("ascii")):
        v |= ch << (8 * j)
    return v


_SW_ORDER = _npx.argsort([_pack_word(w) for w in _SW_WORDS])
_SW_PACKED = _npx.array(sorted(_pack_word(w) for w in _SW_WORDS),
                        _npx.uint32)
_SW_LANGMAT = _npx.zeros((len(_SW_WORDS), len(_LANG_ORDER)), _npx.int64)
for _wi, _w in enumerate(_SW_WORDS):
    for _li in _STOP_LOOKUP[_w]:
        _SW_LANGMAT[_wi, _li] = 1
_SW_LANGMAT = _SW_LANGMAT[_SW_ORDER]
_LANG_CHOICES = _npx.array(_LANG_ORDER + ["und"])


def _str_buffers(arr):
    """(data_bytes, offsets_int64) numpy views of a pyarrow string array,
    offset-slice aware. Works for string and large_string."""
    import pyarrow as pa

    bufs = arr.buffers()
    otype = _npx.int64 if pa.types.is_large_string(arr.type) else _npx.int32
    offs = _npx.frombuffer(bufs[1], otype)[arr.offset:
                                           arr.offset + len(arr) + 1]
    offs = offs.astype(_npx.int64, copy=False)
    data = (_npx.frombuffer(bufs[2], _npx.uint8) if bufs[2] is not None
            else _npx.zeros(0, _npx.uint8))
    return data, offs


def _segsum(flags, offs):
    """Per-document sums of a byte-flag array: csum[end] − csum[start].
    Safe for empty documents (unlike reduceat)."""
    csum = _npx.concatenate(
        ([0], _npx.cumsum(flags, dtype=_npx.int64)))
    return csum[offs[1:]] - csum[offs[:-1]]


def _batch_int_metrics(texts):
    """Vectorized integer metrics for one Arrow string array:
    (valid, n, n_tokens, sum_token_len, punct, bpe_blocks), numpy int64,
    zeros at null slots (callers mask)."""
    import pyarrow.compute as pc

    data, offs = _str_buffers(texts)
    valid = pc.is_valid(texts).to_numpy(zero_copy_only=False)
    n = pc.utf8_length(texts).cast("int64").fill_null(0).to_numpy()

    ws = _LUT_WS[data]
    # predecessor flag, document-start aware: position offs[i] has no
    # in-document predecessor, so force "previous is ws" there
    prev_ws = _npx.empty_like(ws)
    if len(ws):
        prev_ws[0] = True
        prev_ws[1:] = ws[:-1]
        # masked, NOT clipped: a trailing empty/null document's offset
        # equals len(data) and clipping it would mark the buffer's last
        # byte (possibly mid-token of the previous doc) as a token start
        ds = offs[:-1]
        prev_ws[ds[ds < len(ws)]] = True
    token_start = ~ws & prev_ws
    c = _segsum(token_start, offs)
    sum_len = n - _segsum(ws, offs)
    p = _segsum(_LUT_PUNCT[data], offs)

    # Σ ceil(len/4) over alnum pieces = alnum bytes at run offset ≡ 0 mod 4
    al = _LUT_ALNUM[data]
    prev_al = _npx.empty_like(al)
    if len(al):
        prev_al[0] = False
        prev_al[1:] = al[:-1]
        ds = offs[:-1]  # masked, not clipped — see prev_ws above
        prev_al[ds[ds < len(al)]] = False
    run_start = al & ~prev_al
    idx = _npx.arange(len(al), dtype=_npx.int64)
    last_start = _npx.maximum.accumulate(
        _npx.where(run_start, idx, -1)) if len(al) else idx
    block = al & (((idx - last_start) & 3) == 0)
    bpe = _segsum(block, offs)

    z = _npx.where(valid, 1, 0)
    return valid, n * z, c * z, sum_len * z, p * z, bpe * z


def _batch_quality(valid, n, c, sum_len, p):
    """(avg_token_len, punct_ratio, quality) — elementwise float64 in the
    scalar twin's exact operation order; quality 0.0 at null slots."""
    atl = _npx.where(c > 0, sum_len / _npx.where(c > 0, c, 1), 0.0)
    pr = _npx.where(n > 0, p / _npx.where(n > 0, n, 1), 0.0)
    len_score = _npx.where(n < 50, n / 50.0,
                           _npx.where(n > 20000, 0.25, 1.0))
    pp = _npx.minimum(pr * 2.0, 1.0)
    tok = _npx.where((atl >= 3.0) & (atl <= 10.0), 1.0, 0.5)
    score = len_score * 0.4 + (1.0 - pp) * 0.3 + tok * 0.3
    q = _npx.minimum(_npx.maximum(score, 0.0), 1.0)
    return atl, pr, _npx.where(valid, q, 0.0)


def _batch_lang(texts, valid):
    """Per-document lang via packed-token stopword counting on the
    Python-lowered text (see module comment for why not utf8_lower).
    Returns a numpy array of language codes ('und' at null slots)."""
    import pyarrow as pa

    lowered = pa.array(
        [s.lower() if s is not None else None for s in texts.to_pylist()],
        pa.string())
    data, offs = _str_buffers(lowered)
    ws = _LUT_WS[data]
    nonws = ~ws
    prev_ws = _npx.empty_like(ws)
    nxt_ws = _npx.empty_like(ws)
    if len(ws):
        prev_ws[0] = True
        prev_ws[1:] = ws[:-1]
        nxt_ws[-1] = True
        nxt_ws[:-1] = ws[1:]
        # masked, NOT clipped: clipping maps a leading/trailing
        # empty-or-null document's boundary onto a real byte and splits
        # or truncates a token there (ts/te misalign and the subtract
        # below raises on shape mismatch — caught by difftest's edge
        # corpus)
        ds = offs[:-1]
        prev_ws[ds[ds < len(ws)]] = True
        de = offs[1:] - 1
        nxt_ws[de[de >= 0]] = True
    ts = _npx.nonzero(nonws & prev_ws)[0]
    te = _npx.nonzero(nonws & nxt_ws)[0]
    lens = te - ts + 1
    counts = _npx.zeros((len(texts), len(_LANG_ORDER)), _npx.int64)
    sel = lens <= _SW_MAXW
    if sel.any():
        tss, lns = ts[sel], lens[sel]
        vals = _npx.zeros(len(tss), _npx.uint32)
        for j in range(_SW_MAXW):
            m = lns > j
            vals[m] |= data[tss[m] + j].astype(_npx.uint32) << (8 * j)
        pos = _npx.searchsorted(_SW_PACKED, vals)
        pos_c = pos.clip(max=len(_SW_PACKED) - 1)
        hit = _SW_PACKED[pos_c] == vals
        if hit.any():
            doc = _npx.searchsorted(offs, tss[hit], side="right") - 1
            _npx.add.at(counts, doc, _SW_LANGMAT[pos_c[hit]])
    m = counts.max(axis=1)
    am = counts.argmax(axis=1)  # first max in STOPWORDS order
    lang_idx = _npx.where(valid & (m > 0), am, len(_LANG_ORDER))
    return _LANG_CHOICES[lang_idx]


def _doc_text_metrics(s):
    """(measured_chars, n_tokens, avg_token_len, punct_ratio,
    n_bpe_tokens, quality) for one document — the pure-Python bit-exact
    twin of the text_metrics row's expression columns (same exactness
    contract as :func:`_doc_gate_metrics`; pinned by
    test_text_metrics_arrow_matches_exprs). NULL text follows the
    expression semantics exactly: measured_chars/n_tokens/n_bpe_tokens
    NULL, avg_token_len/punct_ratio 0.0 (their ``when(size > 0, ...)
    .otherwise(0.0)`` guards take the otherwise branch on NULL), and
    quality 0.0 via the explicit isNull guard."""
    import math

    if s is None:
        return (None, None, 0.0, 0.0, None, 0.0)
    n = len(s)
    toks = [t for t in _WS_RE.split(s) if t]
    c = len(toks)
    sum_len = 0
    for t in toks:
        sum_len += len(t)
    atl = (sum_len / c) if c > 0 else 0.0
    p = len(_PUNCT_RE.findall(s))
    pr = p / n if n > 0 else 0.0
    subword = 0
    for t in _ALNUM_SPLIT_RE.split(s):
        if t:
            q = math.ceil(len(t) / 4.0)
            subword += q if q > 1 else 1
    n_bpe = subword + p
    if n < 50:
        len_score = n / 50.0
    elif n > 20000:
        len_score = 0.25
    else:
        len_score = 1.0
    pp = pr * 2.0
    if pp > 1.0:
        pp = 1.0
    tok = 1.0 if 3.0 <= atl <= 10.0 else 0.5
    score = len_score * 0.4 + (1.0 - pp) * 0.3 + tok * 0.3
    return (n, c, atl, pr, n_bpe, min(max(score, 0.0), 1.0))


def text_metrics_arrow(docs, *, id_col: str = "doc_id",
                       chars_col: str = "n_chars",
                       text_col: str = "text"):
    """The text_metrics row's per-document feature family via ONE Arrow
    pass — (id, n_chars, measured_chars, n_tokens, avg_token_len,
    punct_ratio, n_bpe_tokens, quality), bit-identical to the layered
    expression form (see :func:`_doc_text_metrics`). The text column is
    consumed inside the kernel and NOT re-emitted — unlike the gate,
    this row's output is metrics-only, so no payload crosses back."""
    import pyarrow as pa

    narrow = docs.select(
        F.col(id_col),
        F.col(chars_col).cast("long").alias(chars_col),
        F.col(text_col))
    names = [id_col, chars_col, "measured_chars", "n_tokens",
             "avg_token_len", "punct_ratio", "n_bpe_tokens", "quality"]

    def _kernel(batches):
        # r13: byte-level numpy passes over the Arrow buffer instead of a
        # per-document Python loop (see the vectorized-kernel block
        # comment); outputs stay bit-identical to _doc_text_metrics.
        for batch in batches:
            texts = batch.column(2)
            valid, n, c, sum_len, p, bpe = _batch_int_metrics(texts)
            atl, prr, q = _batch_quality(valid, n, c, sum_len, p)
            inval = ~valid
            yield pa.RecordBatch.from_arrays(
                [batch.column(0), batch.column(1),
                 pa.array(n, pa.int64(), mask=inval),
                 pa.array(c, pa.int64(), mask=inval),
                 pa.array(_npx.where(valid, atl, 0.0), pa.float64()),
                 pa.array(_npx.where(valid, prr, 0.0), pa.float64()),
                 pa.array((bpe + p).astype(_npx.int32), pa.int32(),
                          mask=inval),
                 pa.array(q, pa.float64())],
                names=names)

    return narrow.mapInArrow(
        _kernel,
        f"{id_col} long, {chars_col} long, measured_chars long, "
        f"n_tokens long, avg_token_len double, punct_ratio double, "
        f"n_bpe_tokens int, quality double")


def gate_metrics_arrow(df, *, id_col: str = "doc_id",
                       text_col: str = "text"):
    """(id, text, lang, quality, n_tokens) via ONE Arrow pass — the
    vectorized form of the curation gate's metrics projection. Projects
    to (id, text) first (guide §4.1: pass only needed columns through
    the boundary); the text buffer is re-emitted zero-copy. Output is
    bit-identical to the expression form (see module comment)."""
    import pyarrow as pa
    from pyspark.sql import types as T

    narrow = df.select(id_col, text_col)
    out_schema = T.StructType(list(narrow.schema.fields) + [
        T.StructField("lang", T.StringType()),
        T.StructField("quality", T.DoubleType()),
        T.StructField("n_tokens", T.IntegerType()),
    ])
    names = [id_col, text_col, "lang", "quality", "n_tokens"]

    def _kernel(batches):
        # r13: vectorized like text_metrics_arrow's kernel; lang comes
        # from the packed-token stopword counter (_batch_lang). n_tokens
        # is NULL for NULL text, matching the expression semantics the
        # scalar twin pinned.
        for batch in batches:
            texts = batch.column(1)
            valid, n, c, sum_len, p, _ = _batch_int_metrics(texts)
            _, _, q = _batch_quality(valid, n, c, sum_len, p)
            langs = _batch_lang(texts, valid)
            yield pa.RecordBatch.from_arrays(
                [batch.column(0), batch.column(1),
                 pa.array(langs, pa.string()),
                 pa.array(q, pa.float64()),
                 pa.array(c.astype(_npx.int32), pa.int32(), mask=~valid)],
                names=names)

    return narrow.mapInArrow(_kernel, out_schema)


def repetition_ratio(text: Column, n: int = 3) -> Column:
    """Fraction of duplicated word n-grams within the document —
    the Gopher-style repetition quality rule (Rae et al. 2021 §A1.1,
    public): boilerplate and degenerate generations repeat themselves;
    natural prose doesn't. 0.0 = all n-grams distinct, →1.0 = the doc
    is one repeated phrase. Docs with < n+1 words score 0.0 (no
    repetition is expressible). Map-side HOF — no shuffle, no UDF.

    The word array is materialized ONCE per row by binding it to a
    lambda variable (transform over a one-element array — a per-row
    let-binding): passing the inline ``tokens(text)`` HOF expression
    into ``word_ngrams`` re-evaluates the whole filter+split chain per
    slice and per reference, the O(len²) pitfall word_ngrams' docstring
    forbids (an n-gram LM scorer built that way measured 6.6x slower
    at sf0.1)."""
    from dexscraper_spark.operators.bpe import word_ngrams

    def _ratio(t: Column) -> Column:
        n_grams = F.greatest(F.size(t) - (n - 1), F.lit(0))
        grams = word_ngrams(t, n)
        dup = n_grams - F.size(F.array_distinct(grams))
        return F.when(n_grams > 0, dup / n_grams).otherwise(F.lit(0.0))

    return F.transform(F.array(tokens(text)), _ratio)[0]
