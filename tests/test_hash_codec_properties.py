"""Property tests for the cross-engine primitives: the overflow-safe
Knuth hash (split-multiply), the md5-derived portable hash, and the
pure-Python PPM codec."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from ytspark.operators.text import SPLIT_MOD, _KNUTH, knuth_hash_col


def test_knuth_hash_matches_bignum_reference_across_int64(spark):
    """The split-multiply must equal (key * KNUTH) mod 2^32 computed in
    unbounded Python integers, for keys across the whole int64 range —
    including the > 2^63/KNUTH region where a naive product overflows."""
    from pyspark.sql import functions as F

    keys = [
        0, 1, 2, 65535, 65536, 65537,
        2**31 - 1, 2**31, 2**32 - 1, 2**32, 2**32 + 1,
        3_470_000_000,  # just below the naive-overflow boundary
        3_500_000_000,  # just above it
        2**62, 2**63 - 1,
        -1, -65536, -(2**31), -(2**63),  # pmod handles negatives
    ] + [((k * 2_654_435_761 + 12345) % (2**63)) for k in range(500)]
    df = spark.createDataFrame([(k,) for k in keys], "k long")
    got = {
        r["k"]: r["hv"]
        for r in df.select("k", knuth_hash_col(F.col("k")).alias("hv")).collect()
    }
    for k in keys:
        expect = ((k % SPLIT_MOD) * _KNUTH) % SPLIT_MOD
        assert got[k] == expect, (k, got[k], expect)


def test_portable_hash64_matches_duckdb(spark):
    """Spark's ``portable_hash64`` and DuckDB's ``_portable_hash_sql``
    agree bit for bit over the UTF-8 bytes of each string: the MinHash
    pipelines, the persisted store and their oracles all rely on it."""
    import duckdb

    from ytspark.operators.dedup import _portable_hash_sql, portable_hash64

    texts = [
        "", "a", "hello world", "é", "日本語 テキスト",
        "  two  spaces ", " ", "tab\tand\nnewline", "naïve café ☕",
    ]
    df = spark.createDataFrame(list(enumerate(texts)), "i int, s string")
    got = dict(df.select("i", portable_hash64(df["s"]).alias("h")).collect())
    con = duckdb.connect()
    want = dict(
        con.execute(
            f"SELECT i, {_portable_hash_sql('s')} FROM "
            "(SELECT UNNEST(RANGE(?)) AS i, UNNEST(?::VARCHAR[]) AS s)",
            [len(texts), texts],
        ).fetchall()
    )
    assert got == want
    assert len(set(got.values())) == len(texts)  # no accidental constant


@settings(max_examples=200, deadline=None)
@given(
    w=st.integers(min_value=1, max_value=16),
    h=st.integers(min_value=1, max_value=12),
    data=st.data(),
)
def test_ppm_roundtrip_property(w, h, data):
    from ytspark.operators.multimodal import decode_ppm, encode_ppm

    pixels = bytes(
        data.draw(
            st.lists(
                st.integers(0, 255), min_size=w * h * 3, max_size=w * h * 3
            )
        )
    )
    assert decode_ppm(encode_ppm(w, h, pixels)) == (w, h, pixels)


@settings(max_examples=100, deadline=None)
@given(
    pad=st.text(alphabet=" \t\n", min_size=1, max_size=5),
    comment=st.text(
        alphabet=st.characters(blacklist_characters="\n", codec="ascii"),
        max_size=20,
    ),
)
def test_ppm_header_grammar_property(pad, comment):
    """Arbitrary whitespace runs and comments between header tokens
    must not change the parse."""
    from ytspark.operators.multimodal import decode_ppm

    pixels = bytes(range(12))  # 2x2
    hairy = (
        b"P6" + pad.encode() + b"#" + comment.encode() + b"\n"
        + b"2" + pad.encode() + b"2" + pad.encode() + b"255\n" + pixels
    )
    assert decode_ppm(hairy) == (2, 2, pixels)


class TestWavCodecProperties:
    @settings(max_examples=60, deadline=None)
    @given(
        st.lists(st.integers(-32768, 32767), min_size=1, max_size=40),
        st.sampled_from([8000, 22050, 44100]),
        st.integers(1, 2),
        st.one_of(st.none(), st.binary(min_size=0, max_size=15)),
    )
    def test_roundtrip_any_payload_rate_channels_chunk(
        self, samples, rate, channels, extra
    ):
        import struct

        from ytspark.operators.multimodal import decode_wav, encode_wav

        # truncate to whole frames
        n = (len(samples) // channels) * channels
        if n == 0:
            n = channels
            samples = samples * channels
        frames = samples[:n]
        pcm = struct.pack(f"<{n}h", *frames)
        drate, dch, chans = decode_wav(
            encode_wav(rate, channels, pcm, extra_chunk=extra)
        )
        assert (drate, dch) == (rate, channels)
        assert [s for fr in zip(*chans) for s in fr] == frames
