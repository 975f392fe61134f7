"""Perceptual image-dedup registry queries (r8 VERDICT item 1).

The driver's tables carry no binary column, so — exactly like the
multimodal_* queries in plans/coverage.py — the binary image payloads
are synthesized deterministically FROM the documents table: each doc
becomes a real binary-PPM image (w0 = 16 + doc_id % 9, h0 = 16) whose
pixel bytes are the document's ASCII text repeated to fill the
raster. The engine then runs the REAL pipeline — PPM decode →
nearest-neighbor 8x8/9x8 downsample → integer grayscale →
aHash/dHash → Hamming-banded LSH pairs (dedup/phash.py) — on actual
decoded pixels inside Arrow mapInPandas, and the DuckDB oracle
replays every integer step over the same text bytes (ASCII, so
``ascii(substr(...))`` IS the pixel byte), no codec shortcut on
either side.

Byte-identical near-dup plants (doc_id % 97 == 0, media_id shifted by
1e6) make the pair query non-vacuous at sf0.01 and exercise the
duplicate-flood collapse guard's expand path under the full hash
oracle. The brightness-shift near-dup property and the flood
linearity bound live in tests/test_phash.py (they need crafted
payloads, not the driver tables).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from erkg_tutorials_spark.catalog import load_tables
from erkg_tutorials_spark.plans.registry import register

HEX = "0123456789abcdef"
PHASH_MAX_HAMMING = 6


def planted_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(media_id, payload) binary-PPM image table synthesized from
    documents + byte-identical plants; the Spark twin of _MEDIA_CTE."""
    t = load_tables(spark, sf_dir)
    d = t["documents"].select(
        "doc_id", "text", (F.lit(16) + F.col("doc_id") % 9).alias("w0")
    )
    base = d.select(F.col("doc_id").alias("media_id"), "text", "w0")
    plants = d.where(F.col("doc_id") % 97 == 0).select(
        (F.col("doc_id") + 1000000).alias("media_id"), "text", "w0"
    )
    u = base.unionByName(plants)
    padded = F.expr(
        "substring(repeat(text, cast(ceil(w0 * 48.0 / greatest(length(text), 1))"
        " as int)), 1, w0 * 48)"
    )
    header = F.concat(
        F.lit("P6\n"), F.col("w0").cast("string"), F.lit(" 16\n255\n")
    )
    return u.select(
        "media_id",
        F.concat(header.cast("binary"), padded.cast("binary")).alias("payload"),
    )


# one shared CTE: per-media padded pixel string (the PPM raster bytes)
_MEDIA_CTE = """
    WITH docs AS MATERIALIZED (
      SELECT doc_id AS media_id, text, 16 + doc_id % 9 AS w0 FROM documents
      UNION ALL
      SELECT doc_id + 1000000 AS media_id, text, 16 + doc_id % 9 AS w0
      FROM documents WHERE doc_id % 97 = 0
    ),
    px AS MATERIALIZED (
      SELECT media_id, w0,
             substr(repeat(text,
                    CAST(CEIL(w0 * 48.0 / GREATEST(length(text), 1)) AS INT)),
                    1, w0 * 48) AS p
      FROM docs
    )
"""


def _gray_sql(idx_expr: str) -> str:
    """Integer grayscale of the pixel at 0-based pixel index
    ``idx_expr``: (r + g + b) // 3 over the ASCII byte values."""
    return (
        "(("
        + " + ".join(
            f"ascii(substr(p, 3 * ({idx_expr}) + {off}, 1))" for off in (1, 2, 3)
        )
        + ") // 3)"
    )


def _nibbles_sql(bit_exprs: list[str]) -> str:
    """64 bit expressions -> 16 lowercase hex chars (MSB-first within
    each nibble), the _bits_to_hex convention."""
    chars = []
    for p in range(16):
        n = " + ".join(
            f"(CASE WHEN {bit_exprs[p * 4 + k]} THEN {8 >> k} ELSE 0 END)"
            for k in range(4)
        )
        chars.append(f"substr('{HEX}', ({n}) + 1, 1)")
    return " || ".join(chars)


def _ahash_sql() -> tuple[str, str]:
    """(grid column list, hash expression) for the 8x8 average hash.
    Source index: y_src = (y*16)//8 = 2y, x_src = (x*w0)//8 — the
    multimodal nearest-neighbor resize formula."""
    cells = [
        f"{_gray_sql(f'(2 * {y}) * w0 + ({x} * w0) // 8')} AS ga_{y * 8 + x}"
        for y in range(8)
        for x in range(8)
    ]
    total = " + ".join(f"ga_{b}" for b in range(64))
    bits = [f"64 * ga_{b} > ({total})" for b in range(64)]
    return ", ".join(cells), _nibbles_sql(bits)


def _dhash_sql() -> tuple[str, str]:
    """(grid column list, hash expression) for the 9x8 difference
    hash: bit(y, x) = gray(y, x) > gray(y, x+1)."""
    cells = [
        f"{_gray_sql(f'(2 * {y}) * w0 + ({x} * w0) // 9')} AS gd_{y * 9 + x}"
        for y in range(8)
        for x in range(9)
    ]
    bits = [f"gd_{y * 9 + x} > gd_{y * 9 + x + 1}" for y in range(8) for x in range(8)]
    return ", ".join(cells), _nibbles_sql(bits)


def _signatures_cte() -> str:
    """CTE chain grid -> sig with (media_id, ahash, dhash)."""
    a_cells, a_hash = _ahash_sql()
    d_cells, d_hash = _dhash_sql()
    return f""",
    grid AS MATERIALIZED (
      SELECT media_id, {a_cells}, {d_cells} FROM px
    ),
    sig AS MATERIALIZED (
      SELECT media_id, {a_hash} AS ahash, {d_hash} AS dhash FROM grid
    )"""


def _phash_oracle() -> str:
    return _MEDIA_CTE + _signatures_cte() + """
    SELECT media_id, ahash, dhash FROM sig
    """


def _hamming_sql(a: str, b: str) -> str:
    """Bit-level Hamming distance between two 16-hex-char columns —
    the SQL twin of dedup/simhash.hamming_hex."""
    terms = []
    for p in range(1, 17):
        na = f"(strpos('{HEX}', substr({a}, {p}, 1)) - 1)"
        nb = f"(strpos('{HEX}', substr({b}, {p}, 1)) - 1)"
        for k in range(4):
            terms.append(
                f"(CASE WHEN (({na}) // {2 ** k}) % 2 <> (({nb}) // {2 ** k}) % 2"
                " THEN 1 ELSE 0 END)"
            )
    return "(" + " + ".join(terms) + ")"


def _phash_pairs_oracle() -> str:
    band_sel = "\n      UNION ALL ".join(
        f"SELECT media_id AS id, ahash AS sig, {b} AS band,"
        f" substr(ahash, {b * 4 + 1}, 4) AS bkey FROM sig"
        for b in range(4)
    )
    return (
        _MEDIA_CTE
        + _signatures_cte()
        + f""",
    bands AS MATERIALIZED ({band_sel}),
    cand AS MATERIALIZED (
      SELECT DISTINCT a.id AS id_a, b.id AS id_b, a.sig AS sig_a, b.sig AS sig_b
      FROM bands a JOIN bands b ON a.band = b.band AND a.bkey = b.bkey
      WHERE a.id < b.id
    )
    SELECT id_a, id_b, CAST(hamming AS BIGINT) AS hamming FROM (
      SELECT id_a, id_b, {_hamming_sql("sig_a", "sig_b")} AS hamming FROM cand
    ) h WHERE hamming <= {PHASH_MAX_HAMMING}
    """
    )


@register("dedup_image_phash", _phash_oracle())
def dedup_image_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual image fingerprints: real PPM decode -> integer 8x8/9x8 downsample -> aHash + dHash, per image, inside Arrow mapInPandas."""
    from erkg_tutorials_spark.dedup.phash import image_signatures

    return image_signatures(planted_media(spark, sf_dir))


@register("dedup_image_phash_pairs", _phash_pairs_oracle())
def dedup_image_phash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-dup pairs: Hamming-banded LSH join over the average hash with exact Hamming verification and the duplicate-flood collapse guard."""
    from erkg_tutorials_spark.dedup.phash import phash_near_dup_pairs

    return phash_near_dup_pairs(
        planted_media(spark, sf_dir), max_hamming=PHASH_MAX_HAMMING
    )


# ---------------------------------------------------------------------------
# Audio features (r9): a REAL WAV encode → container → decode cycle on
# the executors (multimodal/media.py audio tier). The oracle never
# sees a WAV byte — it recomputes the features straight from the
# deterministic sample formula — so a hash match proves the stdlib
# round-trip through the RIFF container is lossless, not just that two
# engines agree on arithmetic. All features are exact BIGINTs.
# ---------------------------------------------------------------------------
_AUDIO_ORACLE = """
    WITH ids AS MATERIALIZED (
      SELECT doc_id AS media_id,
             CAST(256 + (doc_id % 128) * 2 AS BIGINT) AS n
      FROM documents
    ),
    s AS MATERIALIZED (
      SELECT media_id, n, i,
             ((media_id * 31 + i * 17) % 65536) - 32768 AS sv
      FROM (SELECT media_id, n, UNNEST(range(n)) AS i FROM ids)
    ),
    feat AS (
      SELECT media_id,
             CAST(MAX(n) AS BIGINT) AS n_samples,
             CAST(SUM(sv * sv) AS BIGINT) AS sum_sq,
             CAST(MAX(ABS(sv)) AS BIGINT) AS peak_abs
      FROM s GROUP BY media_id
    ),
    zc AS (
      SELECT media_id,
             CAST(SUM(CASE WHEN (sv < 0) <> (nxt < 0) THEN 1 ELSE 0 END)
                  AS BIGINT) AS zero_crossings
      FROM (SELECT media_id, sv,
                   LEAD(sv) OVER (PARTITION BY media_id ORDER BY i) AS nxt
            FROM s)
      WHERE nxt IS NOT NULL
      GROUP BY media_id
    ),
    fr AS (
      SELECT media_id, CAST(MAX(fe) AS BIGINT) AS max_frame_energy
      FROM (
        SELECT media_id, i // 64 AS f, CAST(SUM(sv * sv) AS BIGINT) AS fe
        FROM s WHERE i < (n // 64) * 64
        GROUP BY 1, 2
      ) GROUP BY media_id
    )
    SELECT f.media_id, CAST(8000 AS INTEGER) AS sample_rate,
           f.n_samples, f.sum_sq, f.peak_abs,
           zc.zero_crossings, fr.max_frame_energy
    FROM feat f JOIN zc USING (media_id) JOIN fr USING (media_id)
"""


@register("multimodal_audio_features", _AUDIO_ORACLE)
def multimodal_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-integer PCM audio features (energy, peak, zero crossings, max frame energy) via a real stdlib WAV encode->decode round-trip in Arrow mapInPandas."""
    from erkg_tutorials_spark.multimodal.media import (
        audio_features,
        synth_wav_payloads,
    )

    ids = load_tables(spark, sf_dir)["documents"].select(
        F.col("doc_id").alias("media_id")
    )
    return audio_features(synth_wav_payloads(ids))
