"""Registered multimodal queries (north-star extension).

The deterministic RAW-codec payloads let several binary-pipeline checks be
*oracle-checked* (payload sizes, frame counts, metadata consistency are
SQL-expressible over the same parquet via ``read_parquet``); the numpy
decode paths carry constant-pinned VALUES goldens (tools/pin_goldens.py;
formerly rows-only, as the brief allows for non-SQL-expressible
ops — their numeric correctness is pinned by ``tests/test_multimodal.py``
golden assertions instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from duckdb_pst_spark.goldens_pinned import PINNED as _PINNED
from duckdb_pst_spark.multimodal import fixtures, ops
from duckdb_pst_spark.registry import query

_DIR = fixtures.generate()  # idempotent; absolute path for oracle SQL
_MEDIA = f"read_parquet('{_DIR}/media.parquet')"
_REAL_DIR = fixtures.generate_real()


def _real_decode_oracle() -> str:
    """Golden VALUES oracle for q_media_decode_real: expected stats are
    recomputed from the PRE-ENCODE arrays (fixtures.real_golden_rows),
    so the driver's hash compare proves codecs.png_encode → container
    bytes → codecs.png_decode → stats (and the WAV pair) end to end —
    DuckDB cannot decode the containers, but it can pin the answer."""

    def lit(v, typ: str) -> str:
        return f"CAST({'NULL' if v is None else v} AS {typ})"

    values = ",\n      ".join(
        "("
        + ", ".join(
            [
                lit(mid, "BIGINT"), f"'{fmt}'", lit(w, "INT"), lit(h, "INT"),
                lit(c, "INT"), lit(ns, "BIGINT"), lit(sr, "INT"),
                lit(sv, "BIGINT"), lit(mn, "INT"), lit(mx, "INT"),
            ]
        )
        + ")"
        for mid, fmt, w, h, c, ns, sr, sv, mn, mx in fixtures.real_golden_rows()
    )
    return f"""
    SELECT * FROM (VALUES
      {values}
    ) t(media_id, fmt, width, height, channels, n_samples, sample_rate,
        sum_v, min_v, max_v)
    """


@query(
    "q_media_stats",
    oracle=f"""
    SELECT kind, count(*) AS n, CAST(sum(octet_length(bytes)) AS BIGINT) AS total_bytes
    FROM {_MEDIA}
    GROUP BY kind ORDER BY kind
    """,
    tags=("multimodal", "agg"),
)
def q_media_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Payload inventory by modality — metadata-only pass; the payload
    column is read but never crosses into Python."""
    m = ops.media_table(spark)
    return (
        m.groupBy("kind")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.octet_length("bytes")).alias("total_bytes"),
        )
        .orderBy("kind")
    )


@query(
    "q_media_meta_consistent",
    oracle=f"""
    SELECT media_id,
           octet_length(bytes) AS nbytes,
           CAST(meta.width * meta.height * meta.channels AS INTEGER) AS expect_bytes
    FROM {_MEDIA}
    WHERE kind = 'image'
    """,
    tags=("multimodal",),
)
def q_media_meta_consistent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed-metadata invariant: image payload length == w*h*c — the
    schema contract decode relies on, checked engine-side (B17-style
    struct access on the meta column)."""
    m = ops.of_kind(ops.media_table(spark), "image")
    return m.select(
        "media_id",
        F.octet_length("bytes").cast("long").alias("nbytes"),
        (F.col("meta.width") * F.col("meta.height") * F.col("meta.channels"))
        .cast("int")
        .alias("expect_bytes"),
    )


@query(
    "q_video_frame_sample",
    oracle=f"""
    SELECT media_id, CAST(meta.n_frames AS BIGINT) AS n_frames
    FROM {_MEDIA}
    WHERE kind = 'video'
    """,
    tags=("multimodal", "udf"),
)
def q_video_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sample every frame of each video through the mapInPandas
    flatMap, then count frames per video — the oracle pins the count to
    the metadata, so the Python frame splitter must emit exactly
    meta.n_frames rows per video for the hash to match."""
    frames = ops.sample_frames(ops.of_kind(ops.media_table(spark), "video"), every_k=1)
    return frames.groupBy("media_id").agg(F.count(F.lit(1)).alias("n_frames"))


@query(
    "q_image_resize_bytes",
    oracle=f"""
    SELECT media_id, CAST(8 * 8 * 3 AS INTEGER) AS out_bytes
    FROM {_MEDIA}
    WHERE kind = 'image'
    """,
    tags=("multimodal", "udf"),
)
def q_image_resize_bytes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize every image to 8x8 through the numpy kernel; the oracle pins
    each output payload to exactly 8*8*3 bytes."""
    small = ops.resize_image(ops.of_kind(ops.media_table(spark), "image"), 8, 8)
    return small.select("media_id", F.octet_length("bytes").alias("out_bytes"))


@query("q_image_decode", tags=("multimodal", "udf"), oracle=_PINNED["q_image_decode"])
def q_image_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode all images → per-image luma stats (constant-pinned VALUES
    oracle; numeric golden values also asserted in
    tests/test_multimodal.py). The emitted mean_luma rounds to 9
    decimals: the luma matvec is BLAS (``px @ coeffs``), whose kernel
    choice varies with runtime blocking, so the raw trailing bits can
    flip by 1 ulp between runs — same guard as q_knn_gemm."""
    d = ops.decode_image(ops.of_kind(ops.media_table(spark), "image"))
    return d.withColumn("mean_luma", F.round("mean_luma", 9))


@query("q_audio_features", tags=("multimodal", "udf"), oracle=_PINNED["q_audio_features"])
def q_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCM16 duration/RMS/peak per clip (constant-pinned VALUES oracle;
    also golden-tested in tests/test_multimodal.py)."""
    return ops.audio_features(ops.of_kind(ops.media_table(spark), "audio"))


@query(
    "q_media_probe_real",
    oracle="""
    SELECT 'MEDIUM~2.JPG' AS filename, 'jpeg' AS format,
           CAST(200 AS INT) AS width, CAST(150 AS INT) AS height,
           CAST(3 AS INT) AS channels, CAST(11960 AS BIGINT) AS nbytes
    """,
    tags=("multimodal", "pst-binary", "pst-reference", "udf"),
)
def q_media_probe_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL container bytes end-to-end: the golden archive's actual JPEG
    attachment flows PST reader → attachment explode (A14 gate open) →
    pure-Python header probe (multimodal/container.py, ITU T.81 SOFn
    scan — no codec library), pinned to the image's true 200x150x3
    geometry. This is the decode-adjacent half of the multimodal story
    that works on real payloads today; pixel decode remains behind the
    optional-codec gate."""
    from duckdb_pst_spark.multimodal.pst_bridge import pst_attachments
    from duckdb_pst_spark.sources.mspst.queries import REFERENCE_PST

    att = pst_attachments(spark, REFERENCE_PST)
    probed = ops.probe_media(att)
    return (
        att.select("media_id", "filename", F.octet_length("bytes").cast("long").alias("nbytes"))
        .join(probed, "media_id")
        .select("filename", "format", "width", "height", "channels", "nbytes")
    )


@query(
    "q_media_salvage_real",
    oracle="""
    SELECT 'MEDIUM~2.JPG' AS filename,
           CAST(16 AS BIGINT) AS mcus_decoded,
           CAST(130 AS BIGINT) AS mcus_total,
           CAST(200 AS INT) AS width, CAST(150 AS INT) AS height,
           CAST(12288135 AS BIGINT) AS px_sum
    """,
    tags=("multimodal", "pst-binary", "pst-reference", "udf", "pipeline"),
)
def q_media_salvage_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The golden archive's REAL camera JPEG pixel-decoded inside a Spark
    operator — mail archive → attachment explode → pure-numpy baseline
    JPEG decode (multimodal/jpegc.py), in SALVAGE mode because the
    stored stream carries in-file corruption at byte ~2127 (repairable
    only per-position, provably NOT expressible as any byte
    substitution — the evidence that closed the permute-cipher
    derivation, crypt.py): 16 of 130 MCUs decode cleanly before the
    first entropy error, the remainder stays mid-gray, and the oracle
    pins geometry, MCU counts, and the exact pixel sum of the salvaged
    image. This is the crawl-pipeline behavior for corrupt assets:
    salvage and quantify, don't drop."""
    import numpy as np  # noqa: PLC0415 — executor-side import

    from duckdb_pst_spark.multimodal.pst_bridge import pst_attachments
    from duckdb_pst_spark.sources.mspst.queries import REFERENCE_PST

    att = pst_attachments(spark, REFERENCE_PST).filter(
        F.upper("filename").endswith(".JPG")
    )

    def kern(it):
        import pandas as pd

        from duckdb_pst_spark.multimodal import jpegc

        for b in it:
            out = []
            for fn, raw in zip(b["filename"], b["bytes"]):
                img, done, total = jpegc.jpeg_salvage(bytes(raw))
                h, w, _ = img.shape
                out.append(
                    (fn, done, total, w, h, int(img.astype(np.int64).sum()))
                )
            yield pd.DataFrame(
                out,
                columns=["filename", "mcus_decoded", "mcus_total",
                         "width", "height", "px_sum"],
            )

    return att.select("filename", "bytes").mapInPandas(
        kern,
        "filename string, mcus_decoded long, mcus_total long, "
        "width int, height int, px_sum long",
    )


@query(
    "q_media_decode_real",
    oracle=_real_decode_oracle(),
    tags=("multimodal", "udf", "pipeline"),
)
def q_media_decode_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL container pixel/sample decode, ORACLE-CHECKED — the round-4
    close of the 'real codec decode' gap within what the sandbox
    permits: the media_real table holds genuine PNG (all five scanline
    filters, gray/RGB/RGBA), uncompressed 24-bpp BMP, GIF89a (real
    variable-width LZW incl. table resets), baseline JPEG (pure-numpy
    Huffman + IDCT, multimodal/jpegc.py; lossy, so its golden pins the
    deterministic decode while the round-trip test bounds fidelity),
    and RIFF/WAVE PCM16 (mono/stereo) container bytes, decoded here by
    the pure-stdlib codecs
    (multimodal/codecs.py — zlib inflate + numpy un-filtering per the
    public PNG spec; struct chunk-walk for WAV), with geometry taken
    from the CONTAINER, not metadata. The oracle pins every stat to
    values recomputed from the pre-encode arrays, so a hash match
    proves the full encode→decode round trip inside the Spark operator.

    Scale shape: one scan, one Arrow hop, stats emitted per row —
    map-only (the q_image_decode plan, now on real containers)."""
    import numpy as np  # noqa: PLC0415 — executor-side import

    src = spark.read.parquet(f"{_REAL_DIR}/media_real.parquet").select(
        "media_id", "fmt", "bytes"
    )

    def kern(it):
        import pandas as pd

        from duckdb_pst_spark.multimodal import codecs

        for b in it:
            out = []
            for mid, fmt, raw in zip(b["media_id"], b["fmt"], b["bytes"]):
                if fmt in ("png", "bmp", "gif", "jpeg"):
                    from duckdb_pst_spark.multimodal import jpegc

                    decode = {"png": codecs.png_decode, "bmp": codecs.bmp_decode,
                              "gif": codecs.gif_decode,
                              "jpeg": jpegc.jpeg_decode}[fmt]
                    px = decode(bytes(raw))
                    h, w, c = px.shape
                    out.append(
                        (mid, fmt, w, h, c, None, None,
                         int(px.sum(dtype=np.int64)), int(px.min()), int(px.max()))
                    )
                else:
                    s, rate = codecs.wav_decode(bytes(raw))
                    ch = 1 if s.ndim == 1 else s.shape[1]
                    out.append(
                        (mid, fmt, None, None, ch, int(s.shape[0]), rate,
                         int(np.abs(s.astype(np.int64)).sum()),
                         int(s.min()), int(s.max()))
                    )
            yield pd.DataFrame(
                out,
                columns=["media_id", "fmt", "width", "height", "channels",
                         "n_samples", "sample_rate", "sum_v", "min_v", "max_v"],
            )

    return src.mapInPandas(
        kern,
        "media_id long, fmt string, width int, height int, channels int, "
        "n_samples long, sample_rate int, sum_v long, min_v int, max_v int",
    )


@query(
    "q_media_doc_join",
    oracle=f"""
    SELECT d.doc_id, d.lang, count(*) AS n_media,
           CAST(sum(octet_length(m.bytes)) AS BIGINT) AS media_bytes
    FROM {_MEDIA} m
    JOIN documents d ON d.doc_id = m.doc_id
    GROUP BY d.doc_id, d.lang
    """,
    tags=("multimodal", "join"),
)
def q_media_doc_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Media ↔ documents equi-join (the media table is the small side →
    broadcast; at lake scale the build side flips and this becomes a
    shuffle join on doc_id, which AQE picks automatically)."""
    from duckdb_pst_spark.tables import table

    m = ops.media_table(spark)
    d = table(spark, sf_dir, "documents")
    return (
        m.join(d, "doc_id")
        .groupBy("doc_id", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_media"),
            F.sum(F.octet_length("bytes")).alias("media_bytes"),
        )
    )


@query(
    "q_media_dedup",
    oracle=f"""
    WITH m AS (SELECT media_id, kind, bytes FROM {_MEDIA}),
    ing AS (
      SELECT media_id + 100000 AS media_id, kind, bytes
      FROM m WHERE kind = 'image'
    ),
    keyed AS (
      SELECT media_id, kind,
             CAST(octet_length(bytes) AS BIGINT) AS nbytes,
             sha256(hex(bytes)) AS digest
      FROM (SELECT * FROM m UNION ALL SELECT * FROM ing) u
    ),
    grp AS (
      SELECT digest, min(media_id) AS keep_id, count(*) AS n
      FROM keyed GROUP BY digest
    )
    SELECT k.media_id AS dup_id, g.keep_id, k.kind, k.nbytes
    FROM keyed k JOIN grp g ON g.digest = k.digest
    WHERE g.n > 1 AND k.media_id <> g.keep_id
    """,
    tags=("multimodal", "dedup"),
)
def q_media_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact media dedup by content digest — the re-crawled-asset case:
    a batch of images is re-ingested under new ids (same payload bytes),
    and every duplicate maps to its canonical keeper (min media_id per
    digest). This is the binary-column twin of q_dedup_exact /
    q_dedup_incremental: the step that stops a multimodal corpus
    training twice on the same image.

    Scale shape: the digest is computed scan-local (JVM sha2 inside
    codegen) so the groupBy shuffles (digest, id, len) rows — the
    payloads themselves NEVER cross an exchange, which is the entire
    design at 100 TB of media. Here the digest runs over hex(bytes)
    because DuckDB's sha256 takes VARCHAR only (both engines produce
    uppercase hex, so the digests agree exactly); a production pipeline
    digests the raw bytes directly."""
    m = ops.media_table(spark).select("media_id", "kind", "bytes")
    ing = m.filter(F.col("kind") == "image").select(
        (F.col("media_id") + 100_000).alias("media_id"), "kind", "bytes"
    )
    keyed = (
        m.unionByName(ing)
        .select(
            "media_id",
            "kind",
            F.octet_length("bytes").cast("long").alias("nbytes"),
            F.sha2(F.hex("bytes"), 256).alias("digest"),
        )
    )
    grp = keyed.groupBy("digest").agg(
        F.min("media_id").alias("keep_id"), F.count(F.lit(1)).alias("n")
    )
    return (
        keyed.join(grp, "digest")
        .filter((F.col("n") > 1) & (F.col("media_id") != F.col("keep_id")))
        .select(F.col("media_id").alias("dup_id"), "keep_id", "kind", "nbytes")
    )


_PH_BLOCKS = 8  # 8 blocks x 8 bits of the 64-bit dHash
_PH_HAMMING = 6  # near-dup threshold (< blocks guarantees pigeonhole recall)
_PH_SHIFT = 16  # brightness shift applied to the re-ingested copies
_PH_CAP = 64  # degenerate-bucket guard, as in q_dedup_simhash_hamming


@query(
    "q_media_phash_pairs",
    tags=("multimodal", "dedup"),
    oracle=_PINNED["q_media_phash_pairs"],
)
def q_media_phash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual near-duplicate image pairs: 64-bit dHash per image
    (integer-exact kernel, ops.phash_image) + the pigeonhole block
    index — 8 exact 8-bit blocks, so any pair within Hamming distance
    {6} < 8 shares ≥1 block and candidates exist only inside a
    block-value equi-join (the q_dedup_simhash_hamming plan applied to
    images). The probe workload re-ingests every image brightness-
    shifted by +{16} under new ids: every byte of the payload changes
    (content digests ALL differ — q_media_dedup finds nothing), yet
    dHash gradients survive, so every copy pairs with its original
    within the threshold (mostly Hamming 0; clipping at 255 perturbs a
    few saturated blocks). This is the dedup step a digest cannot do.

    Scale design: hashes are computed scan-local in one Arrow hop
    (payload bytes never cross an exchange — only the 8-byte hash
    does); the block join shuffles (block_idx, block_val, id, hash)
    rows; popcount verification is codegen'd. Oracle: constant-pinned
    VALUES golden — numeric behavior also pinned by the golden test's
    shift-invariance and self-pairing assertions."""
    imgs = ops.of_kind(ops.media_table(spark), "image")
    base = ops.phash_image(imgs)
    shifted = ops.phash_image(imgs, brightness_shift=_PH_SHIFT).select(
        (F.col("media_id") + 200_000).alias("media_id"), "phash"
    )
    ph = base.unionByName(shifted).localCheckpoint(eager=True)
    blocks = ph.select(
        "media_id",
        "phash",
        F.posexplode(
            F.array(
                *[
                    F.expr(f"shiftrightunsigned(phash, {8 * j}) & 255")
                    for j in range(_PH_BLOCKS)
                ]
            )
        ).alias("j", "bv"),
    )
    ok = (
        blocks.groupBy("j", "bv")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .where(F.col("cnt") <= _PH_CAP)
        .select("j", "bv")
    )
    gated = blocks.join(ok, ["j", "bv"])
    cand = (
        gated.alias("a")
        .join(
            blocks.alias("b"),
            (F.col("a.j") == F.col("b.j"))
            & (F.col("a.bv") == F.col("b.bv"))
            & (F.col("a.media_id") < F.col("b.media_id")),
        )
        .select(
            F.col("a.media_id").alias("id_a"),
            F.col("b.media_id").alias("id_b"),
            F.col("a.phash").alias("pa"),
            F.col("b.phash").alias("pb"),
        )
        .distinct()
    )
    return (
        cand.withColumn("hamming", F.expr("CAST(bit_count(pa ^ pb) AS BIGINT)"))
        .filter(F.col("hamming") <= _PH_HAMMING)
        .select("id_a", "id_b", "hamming")
    )


@query(
    "q_media_scene_cuts",
    tags=("multimodal", "video"),
    oracle=_PINNED["q_media_scene_cuts"],
)
def q_media_scene_cuts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-video scene statistics from the integer-exact frame-diff
    kernel (ops.scene_cuts): number of transitions, number of cuts at
    the 0.04-of-full-scale threshold, and the max/mean transition
    magnitude — the keyframe-selection signal that stops a video
    pipeline from sampling near-identical frames. Oracle: constant-pinned
    VALUES golden — determinism and the flag math are additionally
    pinned by the golden test recomputing a video's diffs in-process.

    Scale shape: one Arrow hop per video row computing all transitions
    in vectorized numpy; the rollup shuffles 4 BIGINTs per video. At
    100 TB the frame payloads never cross an exchange — only the
    per-transition scalars do."""
    vids = ops.of_kind(ops.media_table(spark), "video")
    d = ops.scene_cuts(vids)
    return d.groupBy("media_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_transitions"),
        F.sum(F.when(F.col("is_cut"), 1).otherwise(0)).cast("long").alias("n_cuts"),
        F.max("mad_u").alias("max_mad_u"),
        F.expr("CAST(sum(mad_u) div count(*) AS BIGINT)").alias("mean_mad_u"),
    )


@query(
    "q_pipeline_media",
    tags=("multimodal", "dedup", "pipeline"),
    bench=True,
    oracle=_PINNED["q_pipeline_media"],
)
def q_pipeline_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship multimodal pipeline — the media twin of
    q_pipeline_pretrain, as ONE lazy program: ingest (the corpus plus a
    brightness-shifted re-crawl of every image under new ids — every
    payload byte differs), exact content-digest dedup (catches nothing
    on the shifted copies, by design), perceptual near-dup removal
    (dHash block index + popcount; keep-smallest-id policy drops every
    shifted copy), then per-kind survivor statistics. The point of the
    composition is the ordering a real pipeline needs: cheap exact
    digest FIRST (it collapses true re-uploads for free), perceptual
    SECOND (it pays the kernel only for digest-distinct media), stats
    LAST on survivors only.

    Scale shape: digests are scan-local JVM sha2; the phash kernel is
    one Arrow hop; both dedup joins key on 8-byte values (payload
    bytes never cross an exchange); the near-dup drop is a left-anti
    join against the pair set's larger ids. Constant-pinned oracle (the dHash
    kernel has no SQL twin) — pinned by the golden test asserting the
    shifted re-crawl is removed entirely while audio/video pass
    through untouched."""
    m = ops.media_table(spark).select("media_id", "kind", "bytes", "meta")
    imgs = ops.of_kind(m, "image")
    # the probe re-crawl: payload bytes ACTUALLY shifted (clip(px+16)),
    # so every digest differs — stage 1 must not catch these; only the
    # perceptual stage can (a re-encoded copy, not a re-upload)
    recrawl = ops.shift_brightness(imgs, 16).select(
        (F.col("media_id") + 200_000).alias("media_id"),
        "kind",
        "bytes",
        "meta",
    )
    corpus = m.unionByName(recrawl)

    # stage 1 — exact digest dedup (keep smallest id per digest)
    keyed = corpus.withColumn("digest", F.sha2(F.hex("bytes"), 256))
    keep1 = keyed.groupBy("digest").agg(F.min("media_id").alias("keep_id"))
    s1 = keyed.join(keep1, "digest").filter(
        F.col("media_id") == F.col("keep_id")
    ).select("media_id", "kind", "bytes", "meta")

    # stage 2 — perceptual near-dup removal over digest-distinct images
    s1_imgs = ops.of_kind(s1, "image")
    ph = ops.phash_image(s1_imgs).localCheckpoint(eager=True)
    blocks = ph.select(
        "media_id",
        "phash",
        F.posexplode(
            F.array(
                *[
                    F.expr(f"shiftrightunsigned(phash, {8 * j}) & 255")
                    for j in range(8)
                ]
            )
        ).alias("j", "bv"),
    )
    cand = (
        blocks.alias("a")
        .join(
            blocks.alias("b"),
            (F.col("a.j") == F.col("b.j"))
            & (F.col("a.bv") == F.col("b.bv"))
            & (F.col("a.media_id") < F.col("b.media_id")),
        )
        .select(
            F.col("b.media_id").alias("drop_id"),
            F.col("a.phash").alias("pa"),
            F.col("b.phash").alias("pb"),
        )
        .filter(F.expr("bit_count(pa ^ pb) <= 6"))
        .select("drop_id")
        .distinct()
    )
    survivors = s1.join(
        cand.withColumnRenamed("drop_id", "media_id"), "media_id", "left_anti"
    )

    # stage 3 — survivor stats per kind
    return survivors.groupBy("kind").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.octet_length("bytes")).cast("long").alias("total_bytes"),
    )


@query(
    "q_media_audio_dup",
    tags=("multimodal", "dedup"),
    oracle=_PINNED["q_media_audio_dup"],
)
def q_media_audio_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio near-duplicate detection by energy-envelope fingerprint —
    the audio member of the perceptual family (images: q_media_phash_
    pairs; text: simhash/minhash): every audio re-ingested through a
    clip-free x2 gain (every sample byte changes, every digest
    differs), then matched back by fingerprint equality — for integer
    gains the envelope hash is EXACTLY loudness-invariant (all window
    energies scale by gain², preserving every comparison), so each
    re-normalized copy collides with its original. Output: per-match rows (orig_id, copy_id,
    afp) — deterministic set.

    Scale shape: fingerprints are computed scan-local in one Arrow hop
    and the match is an 8-byte-key equi-join — payload bytes never
    cross an exchange, the same contract as every media dedup here."""
    aud = ops.of_kind(ops.media_table(spark), "audio")
    base = ops.audio_fingerprint(aud)
    copies = ops.audio_fingerprint(aud, gain_num=2, gain_den=1).select(
        (F.col("media_id") + 300_000).alias("media_id"), "afp"
    )
    return (
        base.alias("a")
        .join(copies.alias("b"), F.col("a.afp") == F.col("b.afp"))
        .select(
            F.col("a.media_id").alias("orig_id"),
            F.col("b.media_id").alias("copy_id"),
            F.col("a.afp").alias("afp"),
        )
    )


_VID_MATCH_PPM = 800_000  # >=80% of sampled frames must match


@query(
    "q_media_video_dup",
    tags=("multimodal", "dedup"),
    oracle=_PINNED["q_media_video_dup"],
)
def q_media_video_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video near-duplicate detection — the third modality of the
    perceptual family (image dHash, audio envelope, now video): every
    video re-ingested brightness-shifted (every payload byte and
    digest differs), per-frame candidates found by the pigeonhole
    block index keyed ON THE FRAME (frame_idx, 16-bit block, value —
    distance-3 guarantee with 4 blocks), verified by popcount ≤ 3
    (measured: true re-encoded frames land at hamming 0-3 on this
    fixture, never above), and a pair declared a near-dup when ≥80% of
    its sampled frames match — the two-level tolerance (bit-level per
    frame, vote across frames) that lossy re-encodes require. Output (orig_id, copy_id, n_frames, n_matched,
    match_ppm), a deterministic set.

    Scale shape: frame hashing is one Arrow hop per video; the block
    join keys on (frame_idx, block, value) so candidates exist only
    where a frame pair shares an exact 16-bit block — frame payloads
    never cross an exchange, and fan-out is bounded by block
    collisions within a frame index, not by video count."""
    vids = ops.of_kind(ops.media_table(spark), "video")
    base = ops.video_frame_phashes(vids)
    copies = ops.video_frame_phashes(vids, brightness_shift=16).select(
        (F.col("media_id") + 400_000).alias("media_id"), "frame_idx", "phash"
    )
    n_frames = base.groupBy("media_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_frames")
    )

    def blocks(df):
        return df.select(
            "media_id",
            "frame_idx",
            "phash",
            F.posexplode(
                F.array(
                    *[
                        F.expr(f"shiftrightunsigned(phash, {16 * j}) & 65535")
                        for j in range(4)
                    ]
                )
            ).alias("j", "bv"),
        )

    matched = (
        blocks(base).alias("a")
        .join(
            blocks(copies).alias("b"),
            (F.col("a.frame_idx") == F.col("b.frame_idx"))
            & (F.col("a.j") == F.col("b.j"))
            & (F.col("a.bv") == F.col("b.bv")),
        )
        .select(
            F.col("a.media_id").alias("orig_id"),
            F.col("b.media_id").alias("copy_id"),
            F.col("a.frame_idx").alias("fi"),
            F.col("a.phash").alias("pa"),
            F.col("b.phash").alias("pb"),
        )
        .filter(F.expr("bit_count(pa ^ pb) <= 3"))
        .select("orig_id", "copy_id", "fi")
        .distinct()
        .groupBy("orig_id", "copy_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_matched"))
    )
    return (
        matched.join(n_frames, F.col("orig_id") == F.col("media_id"))
        .drop("media_id")
        .withColumn(
            "match_ppm", F.expr("1000000 * n_matched div n_frames")
        )
        .filter(F.col("match_ppm") >= _VID_MATCH_PPM)
        .select("orig_id", "copy_id", "n_frames", "n_matched", "match_ppm")
    )
