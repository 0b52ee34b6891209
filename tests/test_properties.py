"""Property-based tests (hypothesis): decode round-trips arbitrary valid
pair values; the band join is exactly the naive range join; clean_string
matches its reference model on arbitrary strings."""

from __future__ import annotations

import math

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

# -- decode round-trip (pure Python, fast, many examples) -------------------

metric = st.floats(min_value=1e-9, max_value=1e12, allow_nan=False,
                   allow_infinity=False)
symbol = st.text(alphabet="ABCDEFGHIJKLMNOPQRSTUVWXYZ", min_size=2, max_size=8)


@given(price=metric, vol=metric, liq=metric, sym=symbol,
       ts=st.integers(min_value=1, max_value=4102444799))
@settings(max_examples=200, deadline=None)
def test_decode_roundtrip_property(price, vol, liq, sym, ts):
    from dexscraper_spark.sources.binary import make_frame
    from dexscraper_spark.sources.decode import parse_frame
    pair = {
        "chain": "solana", "protocol": "pumpfun",
        "pair_address": "PAIRXXXXXXXXXXXXXXXXXXXXXXXXXXXXX",
        "base_token_name": "Name", "base_token_symbol": sym,
        "base_token_address": "MINTXXXXXXXXXXXXXXXXXXXXXXXXXXXXX",
        "price": price, "price_usd": price, "price_change_h24": 1.5,
        "liquidity_usd": liq, "volume_h24": vol, "fdv": liq * 2,
        "created_at": float(ts),
    }
    rows = parse_frame(make_frame([pair]))
    assert len(rows) == 1
    r = rows[0]
    assert r["price"] == price            # exact f64 round-trip
    assert r["volume_h24"] == vol
    assert r["liquidity_usd"] == liq
    assert r["created_at"] == ts
    assert r["base_token_symbol"] == sym


@given(noise=st.binary(min_size=0, max_size=2048))
@settings(max_examples=200, deadline=None)
def test_decode_never_crashes_on_garbage(noise):
    from dexscraper_spark.sources.decode import parse_frame
    rows = parse_frame(noise)           # must not raise, ever
    assert isinstance(rows, list)


# -- clean_string reference model over arbitrary strings --------------------

def _clean_model(s: str | None) -> str:
    if not s:
        return ""
    cleaned = "".join(ch for ch in s if 32 <= ord(ch) < 127 or ord(ch) == 9)
    if "@" in cleaned or "\\" in cleaned:
        return cleaned.split("@")[0].split("\\")[0]
    return cleaned.strip()


@given(st.lists(st.text(max_size=40), min_size=1, max_size=24))
@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_clean_string_matches_model(spark, texts):
    from pyspark.sql import functions as F
    from dexscraper_spark.functions.cleaning import clean_string
    df = spark.createDataFrame([(t,) for t in texts], "s string")
    got = [r["o"] for r in df.select(clean_string(F.col("s")).alias("o")).collect()]
    assert got == [_clean_model(t) for t in texts]


# -- band join == naive range join on random positions ----------------------

@given(
    lpos=st.lists(st.integers(min_value=-10_000, max_value=10_000),
                  min_size=1, max_size=30),
    rpos=st.lists(st.integers(min_value=-10_000, max_value=10_000),
                  min_size=1, max_size=30),
    radius=st.integers(min_value=1, max_value=5_000),
)
@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_band_join_equals_naive_property(spark, lpos, rpos, radius):
    from pyspark.sql import functions as F
    from dexscraper_spark.operators.proximity import band_range_join
    left = spark.createDataFrame(
        [(i, float(p)) for i, p in enumerate(lpos)], "lid int, lp double")
    right = spark.createDataFrame(
        [(j, float(p)) for j, p in enumerate(rpos)], "rid int, rp double")
    banded = band_range_join(left, right, left_pos="lp", right_pos="rp",
                             radius=float(radius))
    got = sorted((r["lid"], r["rid"]) for r in banded.collect())
    want = sorted((i, j) for i, lp in enumerate(lpos)
                  for j, rp in enumerate(rpos) if abs(lp - rp) <= radius)
    assert got == want


@given(seeds=st.lists(st.integers(min_value=0, max_value=1000),
                      min_size=1, max_size=6))
@settings(max_examples=5, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_spark_decode_equals_python_decode(spark, seeds):
    """The mapInPandas kernel must produce exactly parse_frame's rows —
    the Arrow crossing adds/loses nothing."""
    import pandas as pd
    from dexscraper_spark.sources.binary import make_frame, sample_pairs
    from dexscraper_spark.sources.decode import decode_messages, parse_frame
    frames = [make_frame(sample_pairs(3, seed=s)) for s in seeds]
    pdf = pd.DataFrame({"msg_id": range(len(frames)), "payload": frames})
    out = decode_messages(spark.createDataFrame(pdf).coalesce(1)).collect()
    got = sorted(
        (r["msg_id"], r["record_position"], r["base_token_symbol"], r["price"])
        for r in out)
    want = []
    for i, f in enumerate(frames):
        for rec in parse_frame(f):
            want.append((i, rec["record_position"],
                         rec.get("base_token_symbol"), rec.get("price")))
    assert got == sorted(want)


# -- delta curation == full recuration on random corpora --------------------

_SENTENCES = [
    "the quick brown fox jumps over the lazy dog in the park",
    "a steady rain fell over the quiet town all through the night",
    "the market opened higher and the traders watched it closely",
    "every dataset tells a story if you look at it long enough",
    "the engine shuffles only what it must and broadcasts the rest",
]


@given(
    picks=st.lists(st.tuples(st.integers(0, 4), st.integers(0, 3)),
                   min_size=4, max_size=18),
    cut_frac=st.floats(min_value=0.2, max_value=0.8),
)
@settings(max_examples=5, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_delta_curation_equals_full_property(spark, picks, cut_frac):
    """Random corpora built from a small sentence pool with random
    mutations (exact dups, near dups via punctuation, cross-sentence
    variety), split at a random point: delta-curating the tail against
    the head's state must equal full recuration — corpus AND state."""
    from dexscraper_spark.plans.curation import (
        CurationConfig, apply_state_updates, curate_corpus_with_state,
        curate_delta)

    cfg = CurationConfig(min_quality=0.3, min_tokens=3)
    rows = []
    for i, (si, mut) in enumerate(picks):
        base = _SENTENCES[si]
        text = {0: base, 1: base, 2: base + ".", 3: base + " indeed"}[mut]
        rows.append((i, text))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    cut = int(len(rows) * cut_frac)
    old = docs.filter(f"doc_id < {cut}")
    new = docs.filter(f"doc_id >= {cut}")

    full_cur, full_state = curate_corpus_with_state(docs, config=cfg)
    old_cur, old_state = curate_corpus_with_state(old, config=cfg)
    res = curate_delta(new, old_state, config=cfg)

    cols = ["doc_id", "text", "split"]
    merged = (old_cur.join(res.retracted, "doc_id", "left_anti")
              .unionByName(res.curated_new.select(*old_cur.columns))
              .select(*cols))
    fc = full_cur.select(*cols)
    assert fc.exceptAll(merged).count() == 0
    assert merged.exceptAll(fc).count() == 0

    scols = ["doc_id", "exact_h", "simhash", "component"]
    ns = apply_state_updates(old_state, res).select(*scols)
    fs = full_state.select(*scols)
    assert fs.exceptAll(ns).count() == 0 and ns.exceptAll(fs).count() == 0


# -- packing invariants over arbitrary corpora ------------------------------

@given(sizes=st.lists(st.integers(min_value=0, max_value=200), min_size=1,
                      max_size=60),
       cap=st.integers(min_value=1, max_value=100))
@settings(max_examples=5, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_packing_properties_random_corpora(spark, sizes, cap):
    """chunk_token_stream and pack_greedy over arbitrary size lists and
    capacities: exact interior-chunk fill, complete in-order coverage,
    greedy-reference parity including zeros and oversize docs."""
    from dexscraper_spark.operators.packing import (
        chunk_token_stream, pack_greedy)

    docs = spark.createDataFrame(
        [(i, s) for i, s in enumerate(sizes)],
        "doc_id long, n_tokens long")

    # chunker vs sequential reference
    want, end = [], 0
    for did, n in enumerate(sizes):
        if n <= 0:
            continue
        start, end = end, end + n
        for c in range(start // cap, (end - 1) // cap + 1):
            want.append((c, did, max(0, c * cap - start),
                         min(n, (c + 1) * cap - start)))
    got = sorted(tuple(r) for r in
                 chunk_token_stream(docs, max_tokens=cap,
                                    num_partitions=3).collect())
    assert got == sorted(want)

    # greedy vs sequential reference, one shard so order == doc_id order
    out = sorted((r["doc_id"], r["bin_id"], r["oversize"]) for r in
                 pack_greedy(docs, max_tokens=cap,
                             num_shards=1).collect())
    local, fill, ref = -1, 0, []
    for did, n in enumerate(sizes):
        if n > cap:
            local += 1
            ref.append((did, local, True))
            fill = cap + 1
            continue
        if local < 0 or fill + n > cap:
            local += 1
            fill = 0
        ref.append((did, local, False))
        fill += n
    assert out == sorted((d, b, o) for d, b, o in ref)


# -- Misra-Gries bound on arbitrary streams ----------------------------------


@given(items=st.lists(st.integers(min_value=0, max_value=30),
                      min_size=1, max_size=400),
       k=st.integers(min_value=2, max_value=12),
       splits=st.integers(min_value=1, max_value=4))
@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_mg_bound_property(spark, items, k, splits):
    """For any stream, any k, any partitioning: every reported count is
    a lower bound within n/(k+1), and every item with true frequency
    above the bound is present."""
    from pyspark.sql import functions as F

    from dexscraper_spark.operators.sketch import mg_sketch

    df = spark.createDataFrame([(str(x),) for x in items], "v string") \
        .repartition(splits)
    got = {r.item: r.cnt for r in mg_sketch(df, cols=["v"], k=k).collect()}
    truth = {}
    for x in items:
        truth[str(x)] = truth.get(str(x), 0) + 1
    n = len(items)
    bound = n / (k + 1)
    # an EMPTY summary is valid MG output when every count ties at or
    # below the bound (all mass decremented away)
    assert len(got) <= k
    for item, cnt in got.items():
        assert cnt <= truth[item]
        assert truth[item] - cnt <= bound
    for item, c in truth.items():
        if c > bound:
            assert item in got


# -- BPE merge-table parity on random corpora --------------------------------


@given(words=st.lists(
    st.text(alphabet="abcde", min_size=1, max_size=6),
    min_size=1, max_size=40),
    extra_merges=st.integers(min_value=1, max_value=15))
@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_bpe_matches_reference_property(spark, words, extra_merges):
    """Distributed trainer == independent occurrence-list reference on
    arbitrary corpora, and encoding is always lossless."""
    from dexscraper_spark.operators.bpe import (
        _EOW, bpe_encode, bpe_train)
    from tests.test_bpe import _naive_bpe

    texts = [" ".join(words[i:i + 5]) for i in range(0, len(words), 5)]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string")
    alphabet = {c for w in words for c in w} | {_EOW}
    model = bpe_train(docs, vocab_size=len(alphabet) + extra_merges)
    assert model.merges == _naive_bpe(texts, extra_merges)
    for r in bpe_encode(docs, model).collect():
        joined = "".join(r.pieces).replace(_EOW, " ").strip()
        assert joined == " ".join(texts[r.doc_id].split())


# -- Z-order write fidelity on adversarial values -----------------------------


@given(vals=st.lists(
    st.tuples(
        st.one_of(st.none(),
                  st.floats(allow_nan=True, allow_infinity=False,
                            width=64)),
        st.floats(min_value=-1e12, max_value=1e12, allow_nan=False)),
    min_size=1, max_size=60),
    n_files=st.integers(min_value=1, max_value=5))
@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_zorder_write_fidelity_property(spark, tmp_path_factory, vals,
                                        n_files):
    """write_zordered is a LAYOUT, never a transform: arbitrary values
    (NULLs, NaNs, huge outliers, duplicates) come back row-for-row."""
    from dexscraper_spark.sinks.lake import write_zordered

    path = str(tmp_path_factory.mktemp("zprop") / "t")
    df = spark.createDataFrame(
        [(i, x, y) for i, (x, y) in enumerate(vals)],
        "id long, x double, y double")
    write_zordered(df, path, cols=["x", "y"], n_files=n_files)
    back = spark.read.parquet(path)

    def norm(rows):
        out = []
        for r in rows:
            x = "NaN" if r.x is not None and math.isnan(r.x) else r.x
            out.append((r.id, x, r.y))
        return sorted(out, key=str)
    assert norm(back.collect()) == norm(df.collect())
