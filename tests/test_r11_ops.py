"""Operator tests: real BMP/WAV container decode, the fuzzy~1 term
query, and the codebook-law parity with DuckDB."""

from __future__ import annotations

import pytest

from hbase_observer_elasticsearch_spark.operators.multimodal import (
    REAL_IMG_H,
    REAL_IMG_W,
    REAL_WAV_RATE,
    REAL_WAV_SAMPLES,
    _make_bmp,
    _make_wav,
    decode_image,
    extract_audio_features,
)


class TestRealDecode:
    def test_bmp_roundtrip(self):
        src = b"spark join window"
        h, w, c, px = decode_image(_make_bmp(src))
        assert (h, w, c) == (REAL_IMG_H, REAL_IMG_W, 3)
        n = REAL_IMG_W * REAL_IMG_H * 3
        assert px == bytes(src[j % len(src)] for j in range(n))

    def test_bmp_rejects_wrong_bpp(self):
        blob = bytearray(_make_bmp(b"abc"))
        blob[28] = 32  # claim 32bpp
        with pytest.raises(ValueError):
            decode_image(bytes(blob))

    def test_bmp_rejects_truncation(self):
        with pytest.raises(ValueError):
            decode_image(_make_bmp(b"abc")[:-10])

    def test_non_bmp_gates_on_codec(self):
        with pytest.raises(NotImplementedError):
            decode_image(b"\x89PNG\r\n\x1a\n....")

    def test_bmp_short_headers_raise_valueerror(self):
        # A 'BM' prefix shorter than the 54-byte headers must
        # be the documented ValueError, not a leaked struct.error.
        with pytest.raises(ValueError, match="truncated BMP headers"):
            decode_image(b"BM" + b"\x00" * 10)

    def test_wav_data_size_overrun_raises(self):
        # A data chunk whose declared size overruns the
        # payload must fail loudly, not return stats over a silent
        # truncation (mirrors the BMP truncated-pixel-array check).
        import struct as _struct

        blob = bytearray(_make_wav(b"ab"))
        # find the data chunk and inflate its declared size
        pos = 12
        while pos + 8 <= len(blob):
            cid = bytes(blob[pos : pos + 4])
            csz = _struct.unpack_from("<I", blob, pos + 4)[0]
            if cid == b"data":
                _struct.pack_into("<I", blob, pos + 4, csz + 1000)
                break
            pos += 8 + csz + (csz & 1)
        with pytest.raises(ValueError, match="truncated WAV data chunk"):
            extract_audio_features(bytes(blob))

    def test_wav_roundtrip(self):
        src = b"stream merge"
        f = extract_audio_features(_make_wav(src))
        assert f["sample_rate"] == REAL_WAV_RATE
        assert f["n_samples"] == REAL_WAV_SAMPLES
        samples = [
            (src[j % len(src)] - 128) * 256 for j in range(REAL_WAV_SAMPLES)
        ]
        assert f["sum_vals"] == sum(samples)
        assert f["sum_sq"] == sum(s * s for s in samples)
        assert f["peak"] == max(abs(s) for s in samples)

    def test_wav_rejects_missing_data_chunk(self):
        blob = _make_wav(b"x")[:20]  # RIFF+WAVE magic but no chunks parse
        with pytest.raises(ValueError, match="fmt|data"):
            extract_audio_features(blob)

    def test_non_wav_gates_on_codec(self):
        with pytest.raises(NotImplementedError):
            extract_audio_features(b"ID3\x04....mp3 frames")


class TestFuzzyTerm:
    def test_expansion_is_typo_neighbors(self, spark, sf_dir):
        from hbase_observer_elasticsearch_spark.operators.text import (
            search_fuzzy_term,
        )

        rows = search_fuzzy_term(spark, sf_dir).collect()
        assert 0 < len(rows) <= 15
        # seed "sart" is NOT a corpus term: every match comes through the
        # distance-1 expansion {sort, part}, so no doc matches more than
        # 2 terms and scores are positive.
        assert all(1 <= r["n_matched_terms"] <= 2 for r in rows)
        assert all(r["fz_score"] > 0 for r in rows)
        # ranking is dense and deterministic
        assert [r["rk"] for r in rows] == list(range(1, len(rows) + 1))


class TestCodebookLawParity:
    """The √n codebook law and the training-sample threshold are computed
    Python-side for Spark and SQL-side for DuckDB — pin the integer
    parity across a wide n range (the oracle compare only exercises the
    fixture n)."""

    def test_derived_k_matches_duckdb_ceil_sqrt(self):
        import duckdb

        from hbase_observer_elasticsearch_spark.operators.similarity import (
            KMEANS_K,
            _derived_k,
        )

        ns = [1, 2, 7, 63, 64, 65, 499, 500, 2000, 20000, 200000,
              10**6, 10**9, 2**44]
        got = duckdb.sql(
            "SELECT n, GREATEST(%d, CAST(CEIL(SQRT(CAST(n AS DOUBLE))) "
            "AS BIGINT)) FROM (SELECT unnest(?::BIGINT[]) AS n)" % KMEANS_K,
            params=[ns],
        ).fetchall()
        for n, k_sql in got:
            assert k_sql == _derived_k(n), (n, k_sql, _derived_k(n))

    def test_train_threshold_hex_matches_duckdb_printf(self):
        import duckdb

        from hbase_observer_elasticsearch_spark.operators.similarity import (
            KMEANS_TRAIN_PER_CENTROID as TPC,
        )
        from hbase_observer_elasticsearch_spark.operators.similarity import (
            _derived_k,
        )

        for n in [20000, 200000, 10**6, 10**8]:
            k = _derived_k(n)
            py_hex = format(
                min((2**32 * TPC * k) // n, 2**32 - 1), "08x"
            )
            (sql_hex,) = duckdb.sql(
                f"SELECT printf('%08x', LEAST((4294967296 * {TPC} * {k})"
                f" // {n}, 4294967295))"
            ).fetchone()
            assert sql_hex == py_hex, (n, k, sql_hex, py_hex)
