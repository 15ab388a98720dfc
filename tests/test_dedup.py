"""Dedup/similarity behavior tests: the synthetic corpus plants
near-duplicate docs and embeddings — the operators must actually find
them (non-empty results), and the LSH paths must agree with their
exact baselines on high-similarity pairs."""

from pyspark.sql import functions as F

from storm_bench_spark.plans.registry import all_queries
from tests.conftest import SF_DIR

QS = all_queries()


def test_minhash_finds_planted_neardups(spark):
    out = QS["minhash_lsh"](spark, SF_DIR).toPandas()
    assert len(out) > 0, "corpus plants near-dups; LSH must surface them"
    assert (out["jaccard"] >= 0.5).all()
    # the planted cluster sits at jaccard >= 0.89
    assert (out["jaccard"] >= 0.89).any()


def test_minhash_and_inverted_index_agree_on_high_sim(spark):
    lsh = QS["minhash_lsh"](spark, SF_DIR).toPandas()
    exact = QS["ngram_jaccard"](spark, SF_DIR).toPandas()
    high_lsh = {(r.a, r.b) for r in lsh.itertuples() if r.jaccard >= 0.8}
    high_exact = {(r.a, r.b) for r in exact.itertuples() if r.jaccard >= 0.8}
    # At j>=0.8 with 8x4 banding, collision probability is ~1; both
    # candidate schemes must find the same high-similarity pairs.
    assert high_lsh == high_exact


def test_embedding_lsh_is_subset_of_bruteforce(spark):
    brute = QS["embedding_neardup"](spark, SF_DIR).toPandas()
    lsh = QS["embedding_neardup_lsh"](spark, SF_DIR).toPandas()
    bset = {(r.a, r.b) for r in brute.itertuples()}
    lset = {(r.a, r.b) for r in lsh.itertuples()}
    assert len(bset) > 0, "corpus plants cosine~0.5 pairs above threshold"
    assert lset <= bset
    # banded LSH (4x4) at cos~0.5 has ~0.5+ per-pair recall; on the
    # fixed corpus this resolves deterministically to a nonzero catch.
    assert len(lset) > 0


def test_ann_topk_shape_and_selfexclusion(spark):
    out = QS["ann_topk"](spark, SF_DIR).toPandas()
    assert set(out["qid"]) == set(range(10))
    assert (out.groupby("qid").size() == 5).all()
    assert (out["qid"] != out["neighbor"]).all()
    # ranks are 1..5 per query, cos non-increasing within a query
    for _, g in out.groupby("qid"):
        g = g.sort_values("rank")
        assert list(g["rank"]) == [1, 2, 3, 4, 5]
        assert (g["cos"].diff().dropna() <= 1e-12).all()


def test_simhash_pairs_cover_identical_token_sets(spark):
    from storm_bench_spark.functions.text import word_split
    from storm_bench_spark.sources.tables import load_table

    docs = load_table(spark, SF_DIR, "documents").select(
        "doc_id", F.sort_array(F.array_distinct(word_split("text"))).alias("toks")
    )
    l, r = docs.alias("l"), docs.alias("r")
    same_tokens = {
        (row.a, row.b)
        for row in l.join(
            r,
            (F.col("l.toks") == F.col("r.toks")) & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .select(F.col("l.doc_id").alias("a"), F.col("r.doc_id").alias("b"))
        .collect()
    }
    pairs = QS["simhash_pairs"](spark, SF_DIR).toPandas()
    zero_hamming = {(r.a, r.b) for r in pairs.itertuples() if r.hamming == 0}
    # identical distinct-token sets ⇒ identical simhash ⇒ hamming 0
    assert len(same_tokens) > 0
    assert same_tokens <= zero_hamming


def test_ivf_recall_against_bruteforce(spark):
    bf = QS["ann_topk"](spark, SF_DIR).toPandas()
    ivf = QS["ann_topk_ivf"](spark, SF_DIR).toPandas()
    bset = {(r.qid, r.neighbor) for r in bf.itertuples()}
    iset = {(r.qid, r.neighbor) for r in ivf.itertuples()}
    # Probing 4/32 cells must find most true neighbors on the fixed
    # corpus; exact threshold is corpus-dependent but stable.
    assert len(iset & bset) / len(bset) >= 0.5
    # within-cells ranking is exact: every IVF hit that IS a true
    # top-k neighbor carries the same cosine the brute force computed
    bf_cos = {(r.qid, r.neighbor): r.cos for r in bf.itertuples()}
    for r in ivf.itertuples():
        if (r.qid, r.neighbor) in bf_cos:
            assert abs(bf_cos[(r.qid, r.neighbor)] - r.cos) < 1e-9


def test_scaled_lsh_subset_of_exact(spark):
    """16×32 banding over the derived corpus (base vectors + perturbed
    near-copies): every (base, copy) planted pair sits at cos ≈
    0.999999 — the regime the config is sized for — and must ALL be
    found; any base-base pair it emits must be a subset of the exact
    brute force at the same threshold. (Recall at the fixture's loose
    cos≈0.5 planted pairs is ~5% by design; the synthetic-cluster test
    below proves recall at cos ≥ 0.9.)"""
    from storm_bench_spark.plans.dedup_queries import (
        _SCALED_COPY_OFFSET,
        _SCALED_N_BASE,
    )

    exact = QS["embedding_neardup"](spark, SF_DIR).toPandas()
    scaled = QS["embedding_neardup_lsh_scaled"](spark, SF_DIR).toPandas()
    sset = {(r.a, r.b) for r in scaled.itertuples()}
    planted = {(i, i + _SCALED_COPY_OFFSET) for i in range(_SCALED_N_BASE)}
    assert planted <= sset, "every base↔copy near-dup must be recalled"
    assert (scaled["cos"] >= 0.45).all()
    eset = {(r.a, r.b) for r in exact.itertuples()}
    base_pairs = {
        (a, b) for a, b in sset if a < _SCALED_N_BASE and b < _SCALED_N_BASE
    }
    assert base_pairs <= eset


def test_scaled_lsh_finds_true_neardups(spark):
    """Synthetic corpus with planted cos ≥ 0.95 clusters: the 16×32
    configuration must find every planted pair (theoretical recall
    0.998 at cos 0.95) while random-pair candidates stay sparse."""
    import numpy as np

    from storm_bench_spark.operators import similarity as SIM

    rng = np.random.default_rng(7)
    dim, n_bg, n_clusters = 64, 400, 10
    rows = []
    vid = 0
    planted = set()
    for _ in range(n_bg):
        rows.append((vid, [float(x) for x in rng.standard_normal(dim)]))
        vid += 1
    for _ in range(n_clusters):
        base = rng.standard_normal(dim)
        a, b = vid, vid + 1
        noisy = base + 0.15 * rng.standard_normal(dim)  # cos ≈ 0.99
        rows.append((a, [float(x) for x in base]))
        rows.append((b, [float(x) for x in noisy]))
        planted.add((a, b))
        vid += 2
    df = spark.createDataFrame(rows, schema="vec_id long, embedding array<float>")
    out = SIM.neardup_lsh(
        df, 0.9, dim,
        n_bands=SIM.SCALED_N_BANDS, rows_per_band=SIM.SCALED_ROWS_PER_BAND,
    ).toPandas()
    found = {(r.a, r.b) for r in out.itertuples()}
    assert planted <= found, f"missed {planted - found}"
    assert (out["cos"] >= 0.9).all()


def test_kmeans_ivf_recall_at_least_sampled(spark):
    """centroids='kmeans' must not lose recall vs the sampled-centroid
    variant (the verdict's acceptance bar): better-balanced cells mean
    the n_probe nearest cells cover at least as much of the true top-k."""
    bf = QS["ann_topk"](spark, SF_DIR).toPandas()
    sampled = QS["ann_topk_ivf"](spark, SF_DIR).toPandas()
    kmeans = QS["ann_topk_ivf_kmeans"](spark, SF_DIR).toPandas()
    bset = {(r.qid, r.neighbor) for r in bf.itertuples()}
    r_sampled = len({(r.qid, r.neighbor) for r in sampled.itertuples()} & bset) / len(bset)
    r_kmeans = len({(r.qid, r.neighbor) for r in kmeans.itertuples()} & bset) / len(bset)
    assert r_kmeans >= r_sampled, (r_kmeans, r_sampled)
    # determinism: two runs produce identical rows (Lloyd is seeded by
    # the deterministic sample and combines partials in a fixed order)
    again = QS["ann_topk_ivf_kmeans"](spark, SF_DIR).toPandas()
    a = sorted(map(tuple, kmeans.to_records(index=False)))
    b = sorted(map(tuple, again.to_records(index=False)))
    assert a == b


def test_multimodal_meta_is_deterministic_fake(spark):
    out = QS["multimodal_image_meta"](spark, SF_DIR).toPandas()
    assert len(out) == 500
    assert (out["channels"] == 3).all()
    assert out["width"].between(16, 655).all()
    assert out["height"].between(16, 495).all()


def test_lsh_config_sql_matches_python_ladder():
    """The auto-sized oracle derives (B, R) in SQL from the same
    integer threshold ladder as the engine's lsh_config_for — assert
    bit-equality across every boundary (threshold, threshold±1) and a
    log-spaced sweep, so no corpus count can make them disagree."""
    import duckdb

    from storm_bench_spark.operators.similarity import (
        _R_LADDER,
        lsh_config_for,
        lsh_config_sql_cases,
    )

    r_case, b_case = lsh_config_sql_cases("cnt")
    ns = sorted(
        {1, 2, 10}
        | {t + d for t in _R_LADDER.values() for d in (-1, 0, 1)}
        | {int(10**e) for e in range(1, 13)}
    )
    con = duckdb.connect()
    con.execute("CREATE TABLE counts(cnt BIGINT)")
    con.executemany("INSERT INTO counts VALUES (?)", [(n,) for n in ns])
    got = con.execute(
        f"SELECT cnt, {r_case} AS r, {b_case} AS b FROM counts ORDER BY cnt"
    ).fetchall()
    for cnt, r_sql, b_sql in got:
        b_py, r_py = lsh_config_for(cnt)
        assert (r_sql, b_sql) == (r_py, b_py), (cnt, (r_sql, b_sql), (r_py, b_py))


def test_wav_codec_real_roundtrip():
    """The round-8 WAV decoder is REAL: cross-check header fields
    against the stdlib ``wave`` reader (an independent public
    implementation), and prove the chunk walker handles what a naive
    data-at-byte-44 parser cannot — junk chunks and RIFF odd-size
    padding."""
    import io
    import struct
    import wave as stdlib_wave

    import numpy as np

    from storm_bench_spark.operators.multimodal import (
        decode_wav_pcm16,
        encode_wav_pcm16,
    )

    payload = bytes(range(256)) * 3
    for rate, ch in [(8000, 1), (12000, 2), (16000, 1)]:
        w = encode_wav_pcm16(payload, rate, ch)
        sr, c, bits, nf, ms, mean_abs = decode_wav_pcm16(w)
        f = stdlib_wave.open(io.BytesIO(w))
        assert (sr, c, bits, nf) == (
            f.getframerate(), f.getnchannels(), f.getsampwidth() * 8, f.getnframes()
        )
        frames = np.frombuffer(f.readframes(nf), dtype="<i2")
        assert mean_abs == float(np.abs(frames.astype(np.int64)).sum()) / len(frames)
        assert ms == nf * 1000 // rate
    # chunk walking: an ODD-sized unknown chunk before fmt must be
    # skipped with its pad byte (RIFF rule); naive offset-44 dies here
    body = (
        b"JUNK" + struct.pack("<I", 3) + b"abc\x00"  # odd size + pad
        + encode_wav_pcm16(b"\x01\x02\x03\x04", 8000, 1)[12:]
    )
    odd = b"RIFF" + struct.pack("<I", 4 + len(body)) + b"WAVE" + body
    sr, c, bits, nf, ms, mean_abs = decode_wav_pcm16(odd)
    assert (sr, c, bits, nf) == (8000, 1, 16, 2)
    # sample math: 0x0201=513, 0x0403=1027 → mean 770
    assert mean_abs == 770.0
    # non-WAV payloads refuse loudly instead of guessing
    import pytest as _pytest

    with _pytest.raises(ValueError):
        decode_wav_pcm16(b"NOTAWAVEFILE0000")


def test_ppm_codec_real_roundtrip():
    """The P6 decoder is real: header tokenizer handles Netpbm's
    whitespace/comment grammar (comments legal between ANY tokens),
    raster math is byte-exact, truncation and wrong magic refuse."""
    from storm_bench_spark.operators.multimodal import (
        decode_ppm_p6,
        encode_ppm_p6,
    )

    payload = bytes(range(250)) * 2
    for w in (8, 16, 24):
        ppm = encode_ppm_p6(payload, w)
        width, height, maxval, mean = decode_ppm_p6(ppm)
        row = 3 * w
        h = len(payload) // row
        body = payload[: row * h]
        assert (width, height, maxval) == (w, h, 255)
        assert mean == sum(body) / len(body)
    # comments between ANY header tokens, multi-space separators
    raster = bytes([10, 20, 30] * 2)  # 2px, 1 row
    hand = b"P6 # c1\n 2 # c2\n 1 # c3\n 255\n" + raster
    assert decode_ppm_p6(hand) == (2, 1, 255, sum(raster) / 6)
    # short payload zero-pads exactly one row
    assert decode_ppm_p6(encode_ppm_p6(b"\xff", 2)) == (2, 1, 255, 255 / 6)
    import pytest as _pytest

    with _pytest.raises(ValueError):
        decode_ppm_p6(b"P5 1 1 255\n\x00")  # wrong magic (greyscale)
    with _pytest.raises(ValueError):
        decode_ppm_p6(b"P6 4 4 255\n\x00\x01")  # truncated raster


def test_bmp_codec_real_roundtrip():
    """The BMP decoder is real (round 13, third real codec): it strips
    per-row 4-byte stride padding and re-inverts the spec's bottom-up
    row storage — first_pixel is the logical top-left byte, physically
    stored in the LAST row — and refuses wrong magic, compressed or
    non-24bpp headers, and truncated rasters."""
    import struct

    import pytest as _pytest

    from storm_bench_spark.operators.multimodal import (
        decode_bmp24,
        encode_bmp24,
    )

    payload = bytes(range(256)) * 3
    for w in (7, 10, 13, 16, 19):  # strides 24/32/40/48/60 — 4 of 5 padded
        bmp = encode_bmp24(payload, w)
        row = 3 * w
        h = max(1, len(payload) // row)
        stride = (row + 3) // 4 * 4
        body = (payload + b"\x00" * row)[: row * h]
        assert decode_bmp24(bmp) == (
            w, h, 24, stride, 54 + stride * h, payload[0],
            sum(body) / len(body),
        )
        # physical layout really is bottom-up + padded: the first
        # STORED row is the LAST logical row
        assert bmp[54 : 54 + row] == body[row * (h - 1) :]
        assert len(bmp) == 54 + stride * h
    # empty payload: one zero row
    assert decode_bmp24(encode_bmp24(b"", 10)) == (10, 1, 24, 32, 86, 0, 0.0)
    with _pytest.raises(ValueError):
        decode_bmp24(b"PNGNOTABMP" + b"\x00" * 60)
    # 8bpp header refuses
    bad = bytearray(encode_bmp24(b"\x01" * 30, 7))
    struct.pack_into("<H", bad, 28, 8)
    with _pytest.raises(ValueError):
        decode_bmp24(bytes(bad))
    with _pytest.raises(ValueError):
        decode_bmp24(encode_bmp24(b"\x01" * 120, 7)[:-5])  # truncated


def test_pillow_is_probed_once_per_process(monkeypatch):
    """``_try_real_decode`` imports Pillow once per process, not once
    per payload, and still falls back (None) per payload when a decode
    fails or Pillow is absent."""
    import builtins

    from storm_bench_spark.operators import multimodal as MM

    probes = []
    real_import = builtins.__import__

    def counting_import(name, *args, **kwargs):
        if name == "PIL":
            probes.append(name)
        return real_import(name, *args, **kwargs)

    MM._pil_image.cache_clear()
    monkeypatch.setattr(builtins, "__import__", counting_import)
    try:
        assert [MM._try_real_decode(p) for p in (b"a", b"bb", b"not an image")] == [None] * 3
    finally:
        MM._pil_image.cache_clear()
    assert probes == ["PIL"]
