"""MinHash/LSH properties: signature determinism, Jaccard estimate
accuracy, band-collision behavior, and the Spark/pure-python parity
of lsh_band_keys."""

from __future__ import annotations

import numpy as np

from el.minhash import (
    _band_seeds,
    band_keys_py,
    lsh_band_keys,
    minhash_signature,
    shingle_hashes,
)


def _jaccard(a: set, b: set) -> float:
    return len(a & b) / len(a | b)


def test_signature_estimates_jaccard():
    seeds = _band_seeds(rows=1, bands=256, seed=7)  # 256 independent hashes
    rng = np.random.default_rng(0)
    base = [f"tok{i}" for i in range(200)]
    a_toks = base[:150]
    b_toks = base[50:]  # true Jaccard = 100/200 = 0.5
    a = shingle_hashes(" ".join(a_toks), 4)
    b = shingle_hashes(" ".join(b_toks), 4)
    sa = minhash_signature(a, seeds)
    sb = minhash_signature(b, seeds)
    est = float((sa == sb).mean())
    true = _jaccard(set(a.tolist()), set(b.tolist()))
    assert abs(est - true) < 0.12


def test_band_keys_deterministic_and_similarity_sensitive():
    seeds = _band_seeds(rows=4, bands=16, seed=7)
    t1 = "the quick brown fox jumps over the lazy dog " * 4
    t2 = "the quick brown fox jumps over the lazy cat " * 4
    t3 = "completely unrelated text about spark shuffles and arrow batches"
    k1 = band_keys_py(t1, 4, 16, 3, seeds)
    assert k1 == band_keys_py(t1, 4, 16, 3, seeds)  # pure function
    assert len(k1) == 16 and len(set(k1)) == 16  # band index embedded
    k2 = band_keys_py(t2, 4, 16, 3, seeds)
    k3 = band_keys_py(t3, 4, 16, 3, seeds)
    assert len(set(k1) & set(k2)) >= 1  # near-dup collides somewhere
    assert len(set(k1) & set(k3)) == 0  # unrelated never collides


def test_lsh_band_keys_spark_matches_python(spark):
    rows = [
        (1, "u1", "alpha beta gamma delta epsilon zeta eta theta"),
        (2, "u2", "alpha beta gamma delta epsilon zeta eta iota"),
        (3, "u3", None),
    ]
    df = spark.createDataFrame(rows, "mention_id long, url string, context string")
    out = lsh_band_keys(df, shingle_k=3, rows=4, bands=16, seed=7)
    got = {
        (r.mention_id, r.block_key)
        for r in out.collect()
    }
    seeds = _band_seeds(4, 16, 7)
    want = set()
    for mid, _, text in rows:
        if text is None:
            continue
        for key in band_keys_py(text, 4, 16, 3, seeds):
            want.add((mid, key))
    assert got == want
    assert out.select("strategy").distinct().collect()[0][0] == "lsh_band"


def test_band_keys_batch_parity_with_per_row():
    """The batch-vectorized kernel must emit
    bit-identical keys to band_keys_py for every row, including
    short-text padding, unicode, duplicates-heavy, and null rows."""
    import numpy as np

    from el.minhash import _band_seeds, band_keys_batch, band_keys_py

    seeds = _band_seeds(4, 16, 7)
    texts = [
        "the quick brown fox jumps over the lazy dog",
        None,
        "",
        "ab",  # shorter than shingle_k -> NUL-padded single window
        "aaaaaaaaaaaaaaaaaaaa",  # duplicate shingles
        "Ünïcødé mixed CASE text 42",
        "x" * 5000,
    ]
    row_idx, keys = band_keys_batch(texts, 4, 16, 5, seeds)
    got: dict[int, list[str]] = {}
    for i, k in zip(row_idx, keys):
        got.setdefault(int(i), []).append(k)
    for i, t in enumerate(texts):
        if not t:
            assert i not in got
        else:
            assert got[i] == band_keys_py(t, 4, 16, 5, seeds), f"row {i}"


def test_band_keys_batch_empty_and_all_null():
    import numpy as np

    from el.minhash import _band_seeds, band_keys_batch

    seeds = _band_seeds(4, 16, 7)
    for texts in ([], [None, None], [""]):
        row_idx, keys = band_keys_batch(texts, 4, 16, 5, seeds)
        assert len(row_idx) == 0 and keys == []
