package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.sources.Store

/** Multimodal-column plumbing: image/audio/video payloads are opaque
  * `binary` columns with typed metadata alongside. The harness tables
  * carry no real media, so the payload is the UTF-8 byte stream of
  * `text`, decoded as the same fixed-width frame format
  * [[Multimodal.qBlobFrameSample]] subsamples — the full path (binary
  * schema, metadata extraction, batched per-partition decode) is real,
  * deterministic, and oracle-checked byte-for-byte. A deployment with
  * actual media swaps [[Multimodal.decodeFrames]] for its codec; every
  * surrounding shape (partition-batched iteration, typed feature
  * record, one decoder instance per partition) is what it would use.
  */
object Multimodal {

  /** documents with a synthesized binary payload column. */
  private def blobs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .select($"doc_id", $"source", encode($"text", "UTF-8").as("blob"))
  }

  // ---------------------------------------------------------------
  /** Typed metadata over a binary column: byte length, sha256 digest,
    * leading-bytes signature ("magic number" slot) — one scan, no
    * shuffle, all deterministic. */
  def qBlobMeta(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    blobs(s, dir)
      .select($"doc_id", $"source",
        length($"blob").as("blob_len"),
        sha2($"blob", 256).as("sha256"),
        lower(hex(substring($"blob", 1, 4))).as("head_hex"))
      .orderBy($"doc_id")
  }

  // ---------------------------------------------------------------
  /** Prefix length (bytes) the QA gate samples per blob. */
  private val QaPrefix = 64

  /** Blob ingest-QA gate — the media-table twin of q_embedding_qa
    * (the pass before any decode or perceptual work: an empty
    * payload breaks every downstream kernel, a low-entropy one is
    * the classic truncated/filler-corrupt upload): per source, blob
    * count, empty count, byte-length range, the distinct-byte count
    * over each blob's FIRST [[QaPrefix]] bytes (bounded per-row cost
    * — the sampled-prefix discipline; natural content shows tens of
    * distinct bytes, filler shows a handful), the blobs flagged
    * LOW-ENTROPY (distinct·4 < sampled length), and the flag share
    * in exact integer permille. All byte inspection runs on the
    * blob's hex image with pure string arithmetic (the house
    * convention: DuckDB has no blob substring, so BOTH engines
    * analyze the identical hex text).
    *
    * Scale shape: one scan, O(QaPrefix) per row in one codegen
    * stage, one combinable |sources|-key aggregate — the
    * embarrassingly-parallel gate shape (q_pii_scrub's class). */
  def qBlobQa(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val b = blobs(s, dir)
      .withColumn("blob_len", length($"blob").cast("long"))
      .withColumn("h", lower(hex(substring($"blob", 1, QaPrefix))))
      .withColumn("eff", expr("CAST(length(h) DIV 2 AS BIGINT)"))
      // sequence(0, -1) would be a DESCENDING range in Spark, not an
      // empty one — the empty-payload case is guarded explicitly
      .withColumn("db", when($"eff" === 0, 0L).otherwise(expr(
        "CAST(size(array_distinct(transform(" +
          "sequence(0, CAST(length(h) DIV 2 AS INT) - 1), " +
          "i -> substring(h, i * 2 + 1, 2)))) AS BIGINT)")))
    b.groupBy($"source")
      .agg(count(lit(1)).as("n_blobs"),
        sum(when($"blob_len" === 0, 1L).otherwise(0L)).as("n_empty"),
        min($"blob_len").as("min_len"), max($"blob_len").as("max_len"),
        min($"db").as("db_min"), max($"db").as("db_max"),
        sum(when($"eff" > 0 && $"db" * 4 < $"eff", 1L).otherwise(0L))
          .as("n_low"))
      .withColumn("low_milli", expr("n_low * 1000 DIV n_blobs"))
      .orderBy($"source")
  }

  /** Oracle twin: identical hex-image arithmetic. */
  val qBlobQaSql: String =
    s"""WITH b AS (SELECT doc_id, source,
       |    CAST(OCTET_LENGTH(ENCODE(text)) AS BIGINT) AS blob_len,
       |    LOWER(SUBSTRING(HEX(ENCODE(text)), 1, ${2 * QaPrefix})) AS h
       |  FROM documents),
       |e AS (SELECT *, CAST(LENGTH(h) // 2 AS BIGINT) AS eff FROM b),
       |d AS (SELECT *, CASE WHEN eff = 0 THEN 0
       |    ELSE CAST(len(list_distinct(list_transform(
       |      range(CAST(eff AS INT)),
       |      i -> substr(h, CAST(i * 2 + 1 AS INT), 2)))) AS BIGINT)
       |  END AS db FROM e)
       |SELECT source, COUNT(*) AS n_blobs,
       |  CAST(SUM(CASE WHEN blob_len = 0 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_empty,
       |  MIN(blob_len) AS min_len, MAX(blob_len) AS max_len,
       |  MIN(db) AS db_min, MAX(db) AS db_max,
       |  CAST(SUM(CASE WHEN eff > 0 AND db * 4 < eff THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_low,
       |  CAST(SUM(CASE WHEN eff > 0 AND db * 4 < eff THEN 1 ELSE 0 END)
       |    * 1000 // COUNT(*) AS BIGINT) AS low_milli
       |FROM d GROUP BY 1 ORDER BY 1""".stripMargin

  // head_hex: Spark slices the first 4 BYTES of the blob; DuckDB has no
  // blob substring, so slice the hex string instead (2 hex chars ≡ 1
  // byte) — byte-level parity even for multibyte text.
  val qBlobMetaSql: String =
    """SELECT doc_id, source,
      |  CAST(OCTET_LENGTH(ENCODE(text)) AS INT) AS blob_len,
      |  SHA256(text) AS sha256,
      |  LOWER(SUBSTRING(HEX(ENCODE(text)), 1, 8)) AS head_hex
      |FROM documents ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------
  /** Fixed frame geometry of the fake-video payload (shared by the
    * decoder, the frame sampler, and both oracles). Declared BEFORE
    * the oracle-SQL vals that interpolate them — object vals
    * initialize in declaration order. */
  val FrameBytes = 64
  val FrameStride = 8

  /** Per-blob feature record produced by the frame decoder. */
  case class BlobFeatures(doc_id: Long, n_bytes: Int, n_frames: Int,
    byte_sum: Long, byte_min: Int, byte_max: Int, head_byte: Int)

  /** Deterministic fixed-format decode: the blob is a stream of
    * [[FrameBytes]]-byte frames (the same fake-video layout
    * [[qBlobFrameSample]] subsamples; the tail frame may be short),
    * reduced to exact byte-level sample statistics — the 8-bit
    * "pixel" reduction of a grayscale decode, computed in one pass.
    * Fully oracle-checked: DuckDB re-derives every field from the
    * payload's hex image. A real media deployment swaps this function
    * for its codec (JPEG decode + resize + embedding, PCM unpack, …)
    * without touching the surrounding partition-batched plumbing. */
  def decodeFrames(docId: Long, bytes: Array[Byte]): BlobFeatures = {
    var sum = 0L
    var mn = 256
    var mx = -1
    var i = 0
    while (i < bytes.length) {
      val b = bytes(i) & 0xff
      sum += b
      if (b < mn) mn = b
      if (b > mx) mx = b
      i += 1
    }
    BlobFeatures(docId, bytes.length,
      (bytes.length + FrameBytes - 1) / FrameBytes, sum,
      if (bytes.isEmpty) 0 else mn, if (bytes.isEmpty) 0 else mx,
      if (bytes.isEmpty) 0 else bytes(0) & 0xff)
  }

  /** Batched feature extraction over binary payloads: mapPartitions
    * over (id, blob) batches — the genuine per-partition imperative
    * hot loop a media pipeline needs (one decoder instance per
    * partition, streaming through its batch). */
  def qBlobFeatures(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    blobs(s, dir)
      .select($"doc_id", $"blob").as[(Long, Array[Byte])]
      .mapPartitions { it =>
        // a real pipeline initializes the decoder once per partition here
        it.map { case (id, bytes) => decodeFrames(id, bytes) }
      }
      .toDF()
      .orderBy($"doc_id")
  }

  /** Oracle twin of [[qBlobFeatures]]: bytes are re-derived from the
    * payload's hex image with nibble arithmetic (DuckDB has no blob
    * indexing), then reduced with the same statistics. Empty payloads
    * keep their zero-feature row via the LEFT JOIN. */
  val qBlobFeaturesSql: String =
    s"""WITH b AS (SELECT doc_id, LOWER(HEX(ENCODE(text))) AS h,
      |    OCTET_LENGTH(ENCODE(text)) AS n FROM documents),
      |by AS (SELECT doc_id,
      |    (STRPOS('0123456789abcdef', SUBSTRING(h, 2*i+1, 1)) - 1) * 16 +
      |    (STRPOS('0123456789abcdef', SUBSTRING(h, 2*i+2, 1)) - 1) AS v, i
      |  FROM (SELECT doc_id, h, UNNEST(range(0, n)) AS i FROM b)),
      |agg AS (SELECT doc_id, CAST(SUM(v) AS BIGINT) AS byte_sum,
      |    CAST(MIN(v) AS INT) AS byte_min, CAST(MAX(v) AS INT) AS byte_max,
      |    CAST(MAX(CASE WHEN i = 0 THEN v END) AS INT) AS head_byte
      |  FROM by GROUP BY doc_id)
      |SELECT b.doc_id, CAST(b.n AS INT) AS n_bytes,
      |  CAST((b.n + ${FrameBytes - 1}) // $FrameBytes AS INT) AS n_frames,
      |  COALESCE(agg.byte_sum, 0) AS byte_sum,
      |  COALESCE(agg.byte_min, 0) AS byte_min,
      |  COALESCE(agg.byte_max, 0) AS byte_max,
      |  COALESCE(agg.head_byte, 0) AS head_byte
      |FROM b LEFT JOIN agg ON agg.doc_id = b.doc_id
      |ORDER BY b.doc_id""".stripMargin

  // ---------------------------------------------------------------
  /** Frame sampling over a binary payload: the blob is a stream of
    * fixed [[FrameBytes]]-byte frames (a fake video); every
    * [[FrameStride]]-th frame is sliced out with typed per-frame
    * metadata — the decode-free subsampling step a video pipeline
    * runs BEFORE the expensive codec, expressed declaratively
    * (sequence + explode + byte slicing, all codegen; no UDF). Frame
    * digests are over the frame's hex image so the oracle (DuckDB has
    * no BLOB substring) can hash the identical value. */
  def qBlobFrameSample(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    blobs(s, dir)
      .filter(length($"blob") > 0)
      .withColumn("n_frames",
        expr(s"CAST((length(blob) + ${FrameBytes - 1}) DIV $FrameBytes AS INT)"))
      .withColumn("fi", explode(expr(
        s"sequence(0, n_frames - 1, $FrameStride)")))
      .withColumn("fhex",
        lower(hex(expr(s"substring(blob, fi * $FrameBytes + 1, $FrameBytes)"))))
      .select($"doc_id", $"n_frames", $"fi",
        (length($"fhex") / 2).cast("int").as("frame_len"),
        sha2($"fhex", 256).as("frame_sha"))
      .orderBy($"doc_id", $"fi")
  }

  val qBlobFrameSampleSql: String =
    s"""WITH b AS (SELECT doc_id, LOWER(HEX(ENCODE(text))) AS h,
       |    CAST((OCTET_LENGTH(ENCODE(text)) + ${FrameBytes - 1}) // $FrameBytes AS INT) AS n_frames
       |  FROM documents WHERE OCTET_LENGTH(ENCODE(text)) > 0)
       |SELECT doc_id, n_frames, CAST(fi AS INT) AS fi,
       |  CAST(LENGTH(SUBSTRING(h, fi * ${2 * FrameBytes} + 1, ${2 * FrameBytes})) // 2 AS INT) AS frame_len,
       |  SHA256(SUBSTRING(h, fi * ${2 * FrameBytes} + 1, ${2 * FrameBytes})) AS frame_sha
       |FROM (SELECT doc_id, h, n_frames,
       |        UNNEST(generate_series(0, n_frames - 1, $FrameStride)) AS fi
       |      FROM b)
       |ORDER BY doc_id, fi""".stripMargin

  // ---------------------------------------------------------------
  /** Exact binary-content dedup — the hash step every multimodal
    * pipeline runs before any perceptual matching (identical bytes
    * re-crawled under different ids are the bulk of image dup mass):
    * blobs grouped by sha256, canonical copy = smallest doc_id, each
    * blob annotated with its canonical and the content's copy count.
    *
    * Scale shape: ONE shuffle on the digest (high-cardinality,
    * skew-free by construction — a hash key's population is the
    * content's true copy count); the canonical/count side aggregates
    * to 1 row per digest before the join back, so a viral blob fans
    * out 1:1 (the q_line_dedup join-back discipline). The blob bytes
    * themselves never shuffle — only (doc_id, digest) pairs move. */
  def qBlobDedup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val hashed = blobs(s, dir)
      .select($"doc_id", sha2($"blob", 256).as("sha256"))
    val canon = hashed.groupBy($"sha256")
      .agg(min($"doc_id").as("canonical_id"), count(lit(1)).as("n_copies"))
    hashed.join(canon, "sha256")
      .select($"doc_id", $"sha256", $"canonical_id", $"n_copies",
        ($"doc_id" =!= $"canonical_id").cast("int").as("is_dup"))
      .orderBy($"doc_id")
  }

  val qBlobDedupSql: String =
    """WITH h AS (SELECT doc_id, SHA256(text) AS sha256 FROM documents),
      |c AS (SELECT sha256, MIN(doc_id) AS canonical_id,
      |    COUNT(*) AS n_copies
      |  FROM h GROUP BY 1)
      |SELECT doc_id, sha256, canonical_id, n_copies,
      |  CAST(doc_id != canonical_id AS INT) AS is_dup
      |FROM h JOIN c USING (sha256) ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------
  // Perceptual near-dup — the step a multimodal pipeline runs AFTER
  // exact dedup: re-encoded / lightly-edited payloads share no sha256
  // but stay close under a content hash computed from the decoded
  // sample stream. The hash here is a gradient (dHash-family)
  // signature over the byte stream — codec-free, deterministic, and
  // exactly re-derivable by the DuckDB oracle; a real deployment
  // computes the same 64 comparisons over decoded pixel regions.

  /** Byte regions of the gradient hash: 65 equal-share regions → 64
    * adjacent-pair comparisons → four 16-bit signature pieces. */
  val PhashRegions = 65

  /** Max Hamming distance reported as a near-dup pair. 4-piece
    * blocking is LOSSLESS for d ≤ 3 by pigeonhole (3 differing bits
    * cannot touch all 4 pieces). */
  val PhashHammingMax = 3

  /** Max blobs per (piece, value) block before the block is dropped —
    * monochrome/boilerplate signatures produce mega-blocks whose
    * pairs grow quadratically; the same skew guard as SimHash's
    * piece blocking, mirrored in the oracle. */
  val PhashBlockCap = 50

  /** Every [[PhashVariantMod]]-th doc gets two planted "re-encode"
    * variants in the perceptual corpus (the synthetic harness corpus
    * has no byte-level near-dups of its own — round-12 verdict: the
    * all-pairs minimum Hamming at sf0.001 is 12, so an unplanted
    * corpus makes the query vacuous). Both variants are derived from
    * the base payload at the BYTE level so the DuckDB oracle replants
    * them exactly:
    *  - `doc_id + PhashV1Offset`: every byte +4 (mod 256) — a global
    *    brightness shift. The cross-multiplied region comparison is
    *    invariant to a uniform shift ((s_r+4c_r)·c_{r+1} vs
    *    (s_{r+1}+4c_{r+1})·c_r cancels the 4-terms), so for pure-ASCII
    *    payloads the signature is IDENTICAL → Hamming-0 pairs; only
    *    wrap-around bytes (≥ 252) can flip bits.
    *  - `doc_id + PhashV2Offset`: bytes at i < n/3 get +16 (mod 256)
    *    — a localized edit. The uniform shift cancels inside the
    *    fully-shifted prefix; only the straddled boundary region's two
    *    comparisons can flip → Hamming ≤ 2 typically.
    * At sf0.001 this plants 100 doc families → 300 pairs at d ∈
    * {0, 1, 2}, verified non-vacuous. */
  val PhashVariantMod = 5
  val PhashV1Offset = 10000000L
  val PhashV2Offset = 20000000L

  /** Four 16-bit perceptual-signature pieces per blob. */
  case class BlobSig(doc_id: Long, p0: Int, p1: Int, p2: Int, p3: Int)

  /** Gradient hash of a byte stream: byte i belongs to region
    * (i·65) DIV n; comparison r (r < 64) sets bit (r mod 16) of piece
    * (r DIV 16) iff region r's byte mean exceeds region r+1's — in
    * EXACT cross-multiplied integers (sum_r·cnt_{r+1} >
    * sum_{r+1}·cnt_r), so no division, no floats, and the oracle
    * reproduces every bit. Short payloads (< 65 bytes) leave trailing
    * regions empty; the 0·0 comparison is false on both engines. */
  def phashPieces(docId: Long, bytes: Array[Byte]): BlobSig = {
    val n = bytes.length
    val sums = new Array[Long](PhashRegions)
    val cnts = new Array[Long](PhashRegions)
    var i = 0
    while (i < n) {
      val r = ((i.toLong * PhashRegions) / n).toInt
      sums(r) += bytes(i) & 0xff
      cnts(r) += 1
      i += 1
    }
    val p = new Array[Int](4)
    var r = 0
    while (r < PhashRegions - 1) {
      if (sums(r) * cnts(r + 1) > sums(r + 1) * cnts(r))
        p(r / 16) |= 1 << (r % 16)
      r += 1
    }
    BlobSig(docId, p(0), p(1), p(2), p(3))
  }

  /** Perceptual near-dup pairs: signatures from the partition-batched
    * decoder (one pass per blob — the [[qBlobFeatures]] plumbing),
    * blocked on any shared 16-bit piece (size-capped BEFORE pair
    * generation), verified by exact Hamming distance ≤
    * [[PhashHammingMax]] via `bit_count(xor)` — blocking is lossless
    * at that threshold, so the pair set equals the all-pairs scan's.
    *
    * Scale shape: the blob bytes are read once and reduced to four
    * ints; everything after moves 1-row-per-doc signatures — the
    * candidate join is a capped equi-join on (piece, value), never a
    * cartesian, exactly the q_dedup_simhash discipline one modality
    * over. */
  /** The perceptual-signature stream of the registered corpus —
    * one decode pass per blob (planted re-encode variants, see
    * [[PhashVariantMod]], emitted inline so the bytes are read
    * exactly once); shared by the in-plan query and the stored-index
    * build. */
  private[graft] def phashSigs(s: SparkSession, dir: String): DataFrame =
    sigsOfBlobs(blobsWithVariants(s, dir))

  /** The registered perceptual corpus at the PAYLOAD level: every
    * non-empty blob, plus the two planted byte-derived re-encode
    * variants per [[PhashVariantMod]]-th doc (see the plant's
    * documentation above). [[phashSigs]] is its signature image; the
    * streamed-lifecycle queries feed it through
    * [[blobBatch]]/[[sigsOfBlobs]] batch-wise, so the in-plan and
    * streamed paths derive from ONE corpus definition. */
  private[graft] def blobsWithVariants(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    blobs(s, dir)
      .filter(length($"blob") > 0)
      .select($"doc_id", $"blob").as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, b) =>
        if (id % PhashVariantMod == 0) {
          val n = b.length
          val v1 = new Array[Byte](n)
          val v2 = new Array[Byte](n)
          val pfx = n / 3
          var i = 0
          while (i < n) {
            v1(i) = (b(i) + 4).toByte // toByte wraps mod 256 = oracle's %256
            v2(i) = if (i < pfx) (b(i) + 16).toByte else b(i)
            i += 1
          }
          Seq((id, b), (id + PhashV1Offset, v1), (id + PhashV2Offset, v2))
        } else Seq((id, b))
      })
      .toDF("doc_id", "blob")
  }

  /** The in-plan perceptual pair graph of a PINNED signature frame:
    * capped (piece, value) blocking, candidate equi-join, exact
    * Hamming verify — shared by [[qBlobPhash]] and the cross-modal
    * telemetry [[qModalMismatch]]. Caller pins `sigs` (three
    * consumers: the piece explode and both verify sides). */
  private def phashPairsOf(sigs: DataFrame): DataFrame = {
    val s = sigs.sparkSession
    import s.implicits._
    val pieces = sigs.selectExpr("doc_id",
      "stack(4, 0, p0, 1, p1, 2, p2, 3, p3) AS (pi, pv)")
    val blocks = Dedup.capBlocks(pieces, Seq("pi", "pv"), PhashBlockCap)
    val cand = blocks.select($"doc_id".as("d1"), $"pi", $"pv")
      .join(blocks.select($"doc_id".as("d2"), $"pi", $"pv"), Seq("pi", "pv"))
      .filter($"d1" < $"d2")
      .select($"d1", $"d2").distinct()
    cand
      .join(sigs.select($"doc_id".as("d1"), $"p0".as("a0"), $"p1".as("a1"),
        $"p2".as("a2"), $"p3".as("a3")), "d1")
      .join(sigs.select($"doc_id".as("d2"), $"p0".as("b0"), $"p1".as("b1"),
        $"p2".as("b2"), $"p3".as("b3")), "d2")
      .withColumn("hamming", expr(
        "CAST(bit_count(a0 ^ b0) + bit_count(a1 ^ b1) + " +
          "bit_count(a2 ^ b2) + bit_count(a3 ^ b3) AS INT)"))
      .filter($"hamming" <= PhashHammingMax)
      .select($"d1", $"d2", $"hamming")
  }

  /** Bench watch: regresses if the candidate join stops being
    * block-capped. */
  def qBlobPhash(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // three consumers (piece explode + both verify sides) — pin the
    // one decode pass
    val sigs = phashSigs(s, dir).localCheckpoint(true)
    phashPairsOf(sigs).orderBy($"d1", $"d2")
  }

  // ---------------------------------------------------------------
  /** The recovery census' perturbation grid (bit-flip counts per
    * `doc_id % 5` cell — one injection per doc keeps block sizes
    * realistic) and the injected-id offset. Flip positions are
    * `(doc_id + 13·j) % 64`, j < k: the offsets {0,13,26,39,52,1}
    * are distinct mod 64 for every k ≤ 6, so each injection flips
    * EXACTLY k bits and Hamming(base, variant) = k by construction. */
  private[graft] val PhashInjBits: Seq[Long] = Seq(1L, 2L, 3L, 4L, 6L)
  private[graft] val PhashInjOffset = 30000000L

  /** Injection-recovery census of the perceptual near-dup GATE — the
    * [[graft.queries.TimeSeries.qTransitRecovery]] discipline on the
    * third approximate gate of the engine (after the transit and EB
    * censuses): per k-bit cell, a signature-level variant with
    * exactly k flipped bits is injected for every blob, the
    * augmented table runs through the REAL production gate
    * ([[phashPairsOf]] — capped piece blocking + exact Hamming
    * verify), and the cell reports how many injections the gate
    * caught paired with their own base, plus the stray incidences
    * (injected endpoints paired with anything else — the census'
    * false-association telemetry).
    *
    * What it grades: the GATE, not the hash — the hash's byte-level
    * sensitivity is already ground-truthed by the planted re-encode
    * variants ([[PhashVariantMod]]). The k ≤ [[PhashHammingMax]]
    * rows measure the BLOCK CAP's recall cost against the pigeonhole
    * losslessness claim (un-capped, they'd be exactly 1000‰: 3
    * differing bits cannot touch all 4 pieces); the k ∈ {4, 6} rows
    * must be EXACTLY 0 — the Hamming verify is exact, so a single
    * caught pair there is a gate bug, not noise.
    *
    * Scale shape: signatures are 4-int rows, the injection is a
    * broadcast-joined per-row mask fold (j ≤ 6 explode on the
    * signature frame, never the bytes), and the pair stage is the
    * production gate's capped equi-join — the census costs one extra
    * gate pass over a 2× signature table. Tallies zero-fill on the
    * 5-row cell literal (LEFT join + GREATEST — the r19 census
    * discipline).
    *
    * Bench watch: regresses if the injection ever touches the bytes
    * instead of the 4-int signatures. */
  def qPhashRecovery(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val off = PhashInjOffset
    val kcells = PhashInjBits.zipWithIndex
      .map { case (k, i) => (i.toLong, k) }.toDF("cell", "k_bits")
    val sigs0 = sigsOfBlobs(blobs(s, dir)).localCheckpoint(true)
    val masks = sigs0.select($"doc_id")
      .withColumn("cell", $"doc_id" % 5)
      .join(broadcast(kcells), Seq("cell"))
      .withColumn("j", explode(sequence(lit(0L), $"k_bits" - 1)))
      .withColumn("p", ($"doc_id" + $"j" * 13) % 64)
      .groupBy($"doc_id")
      .agg(
        sum(expr("CASE WHEN p DIV 16 = 0" +
          " THEN shiftleft(1L, CAST(p % 16 AS INT)) ELSE 0L END"))
          .cast("int").as("m0"),
        sum(expr("CASE WHEN p DIV 16 = 1" +
          " THEN shiftleft(1L, CAST(p % 16 AS INT)) ELSE 0L END"))
          .cast("int").as("m1"),
        sum(expr("CASE WHEN p DIV 16 = 2" +
          " THEN shiftleft(1L, CAST(p % 16 AS INT)) ELSE 0L END"))
          .cast("int").as("m2"),
        sum(expr("CASE WHEN p DIV 16 = 3" +
          " THEN shiftleft(1L, CAST(p % 16 AS INT)) ELSE 0L END"))
          .cast("int").as("m3"))
    val injected = sigs0.join(masks, Seq("doc_id"))
      .select(($"doc_id" + off).as("doc_id"),
        $"p0".bitwiseXOR($"m0").cast("int").as("p0"),
        $"p1".bitwiseXOR($"m1").cast("int").as("p1"),
        $"p2".bitwiseXOR($"m2").cast("int").as("p2"),
        $"p3".bitwiseXOR($"m3").cast("int").as("p3"))
    val pairs = phashPairsOf(
      sigs0.select($"doc_id", $"p0", $"p1", $"p2", $"p3")
        .union(injected).localCheckpoint(true))
    val inj = sigs0.groupBy(($"doc_id" % 5).as("cell"))
      .agg(count(lit(1)).as("n_injected"))
    val caught = pairs.filter($"d2" === $"d1" + off)
      .groupBy(($"d1" % 5).as("cell"))
      .agg(count(lit(1)).as("n_caught"))
    val stray = pairs.filter($"d1" >= off)
      .select((($"d1" - off) % 5).as("cell"))
      .union(pairs.filter($"d2" >= off && $"d2" =!= $"d1" + off)
        .select((($"d2" - off) % 5).as("cell")))
      .groupBy($"cell").agg(count(lit(1)).as("n_stray"))
    kcells
      .join(inj, Seq("cell"), "left")
      .join(caught, Seq("cell"), "left")
      .join(stray, Seq("cell"), "left")
      .na.fill(0L, Seq("n_injected", "n_caught", "n_stray"))
      .select($"k_bits", $"n_injected", $"n_caught", $"n_stray",
        expr("1000 * n_caught DIV GREATEST(n_injected, 1)")
          .as("rec_permille"))
      .orderBy($"k_bits")
  }

  /** Oracle twin: the raw-corpus signature chain (no harness
    * variants — the census injects its own), the identical mask
    * arithmetic, the production gate's blocking/cap/verify text over
    * the augmented table, and the zero-filled cell tallies. */
  lazy val qPhashRecoverySql: String = {
    val lastR = PhashRegions - 1
    val off = PhashInjOffset
    val cellL = PhashInjBits.indices.mkString(", ")
    val kbL = PhashInjBits.mkString(", ")
    s"""WITH b AS (SELECT doc_id, LOWER(HEX(ENCODE(text))) AS h,
       |    OCTET_LENGTH(ENCODE(text)) AS n FROM documents
       |  WHERE OCTET_LENGTH(ENCODE(text)) > 0),
       |by AS (SELECT doc_id, n,
       |    (STRPOS('0123456789abcdef', SUBSTRING(h, 2*i+1, 1)) - 1) * 16 +
       |    (STRPOS('0123456789abcdef', SUBSTRING(h, 2*i+2, 1)) - 1) AS v, i
       |  FROM (SELECT doc_id, h, n, UNNEST(range(0, n)) AS i FROM b)),
       |reg AS (SELECT doc_id, CAST((i * $PhashRegions) // n AS INT) AS r,
       |    CAST(SUM(v) AS BIGINT) AS s, COUNT(*) AS c
       |  FROM by GROUP BY 1, 2),
       |grid AS (SELECT doc_id,
       |    CAST(UNNEST(range(0, $PhashRegions)) AS INT) AS r FROM b),
       |rg AS (SELECT grid.doc_id, grid.r, COALESCE(reg.s, 0) AS s,
       |    COALESCE(reg.c, 0) AS c
       |  FROM grid LEFT JOIN reg ON reg.doc_id = grid.doc_id
       |    AND reg.r = grid.r),
       |cmp AS (SELECT a.doc_id, a.r AS idx,
       |    CASE WHEN a.s * n2.c > n2.s * a.c THEN 1 ELSE 0 END AS bit
       |  FROM rg a JOIN rg n2 ON n2.doc_id = a.doc_id AND n2.r = a.r + 1
       |  WHERE a.r < $lastR),
       |sig0 AS (SELECT doc_id,
       |    CAST(SUM(CASE WHEN idx // 16 = 0 THEN bit << (idx % 16) ELSE 0 END) AS INT) AS p0,
       |    CAST(SUM(CASE WHEN idx // 16 = 1 THEN bit << (idx % 16) ELSE 0 END) AS INT) AS p1,
       |    CAST(SUM(CASE WHEN idx // 16 = 2 THEN bit << (idx % 16) ELSE 0 END) AS INT) AS p2,
       |    CAST(SUM(CASE WHEN idx // 16 = 3 THEN bit << (idx % 16) ELSE 0 END) AS INT) AS p3
       |  FROM cmp GROUP BY 1),
       |kc AS (SELECT unnest([$cellL]) AS cell, unnest([$kbL]) AS kb),
       |mk AS (SELECT s.doc_id,
       |    CAST(SUM(CASE WHEN ((s.doc_id + 13*j) % 64) // 16 = 0
       |      THEN 1 << CAST((s.doc_id + 13*j) % 64 % 16 AS INT)
       |      ELSE 0 END) AS INT) AS m0,
       |    CAST(SUM(CASE WHEN ((s.doc_id + 13*j) % 64) // 16 = 1
       |      THEN 1 << CAST((s.doc_id + 13*j) % 64 % 16 AS INT)
       |      ELSE 0 END) AS INT) AS m1,
       |    CAST(SUM(CASE WHEN ((s.doc_id + 13*j) % 64) // 16 = 2
       |      THEN 1 << CAST((s.doc_id + 13*j) % 64 % 16 AS INT)
       |      ELSE 0 END) AS INT) AS m2,
       |    CAST(SUM(CASE WHEN ((s.doc_id + 13*j) % 64) // 16 = 3
       |      THEN 1 << CAST((s.doc_id + 13*j) % 64 % 16 AS INT)
       |      ELSE 0 END) AS INT) AS m3
       |  FROM sig0 s JOIN kc ON s.doc_id % 5 = kc.cell
       |  CROSS JOIN (SELECT unnest(range(0, 6)) AS j) jt
       |  WHERE j < kb GROUP BY 1),
       |sigi AS (SELECT doc_id, p0, p1, p2, p3 FROM sig0
       |  UNION ALL
       |  SELECT s.doc_id + $off, CAST(xor(s.p0, m.m0) AS INT),
       |    CAST(xor(s.p1, m.m1) AS INT), CAST(xor(s.p2, m.m2) AS INT),
       |    CAST(xor(s.p3, m.m3) AS INT)
       |  FROM sig0 s JOIN mk m ON m.doc_id = s.doc_id),
       |pc AS (
       |  SELECT doc_id, 0 AS pi, p0 AS pv FROM sigi UNION ALL
       |  SELECT doc_id, 1, p1 FROM sigi UNION ALL
       |  SELECT doc_id, 2, p2 FROM sigi UNION ALL
       |  SELECT doc_id, 3, p3 FROM sigi),
       |blk AS (SELECT doc_id, pi, pv FROM (
       |    SELECT doc_id, pi, pv, COUNT(*) OVER (PARTITION BY pi, pv) AS bsz
       |    FROM pc) WHERE bsz <= $PhashBlockCap),
       |cd AS (SELECT DISTINCT a.doc_id AS d1, b2.doc_id AS d2
       |  FROM blk a JOIN blk b2 ON a.pi = b2.pi AND a.pv = b2.pv
       |    AND a.doc_id < b2.doc_id),
       |pr AS (SELECT d1, d2 FROM cd
       |  JOIN sigi sa ON sa.doc_id = d1 JOIN sigi sb ON sb.doc_id = d2
       |  WHERE bit_count(xor(sa.p0, sb.p0)) + bit_count(xor(sa.p1, sb.p1)) +
       |    bit_count(xor(sa.p2, sb.p2)) + bit_count(xor(sa.p3, sb.p3))
       |    <= $PhashHammingMax),
       |inj AS (SELECT doc_id % 5 AS cell, COUNT(*) AS n_injected
       |  FROM sig0 GROUP BY 1),
       |ct AS (SELECT d1 % 5 AS cell, COUNT(*) AS n_caught
       |  FROM pr WHERE d2 = d1 + $off GROUP BY 1),
       |st AS (SELECT cell, COUNT(*) AS n_stray FROM (
       |    SELECT (d1 - $off) % 5 AS cell FROM pr WHERE d1 >= $off
       |    UNION ALL
       |    SELECT (d2 - $off) % 5 FROM pr
       |    WHERE d2 >= $off AND d2 <> d1 + $off) GROUP BY 1)
       |SELECT kb AS k_bits,
       |  COALESCE(n_injected, 0) AS n_injected,
       |  COALESCE(n_caught, 0) AS n_caught,
       |  COALESCE(n_stray, 0) AS n_stray,
       |  1000 * COALESCE(n_caught, 0)
       |    // GREATEST(COALESCE(n_injected, 0), 1) AS rec_permille
       |FROM kc LEFT JOIN inj USING (cell) LEFT JOIN ct USING (cell)
       |  LEFT JOIN st USING (cell)
       |ORDER BY k_bits""".stripMargin
  }

  /** Oracle twin: bytes from the payload's hex image (the
    * [[qBlobFeaturesSql]] nibble CTE), the planted variants re-derived
    * at the byte-value level (`byv` — same +4 / prefix+16 mod-256
    * arithmetic as the Scala plant), per-region exact sums/counts,
    * the identical cross-multiplied comparisons packed into four INT
    * pieces, the same capped piece blocking, and `bit_count(xor)`
    * verification. */
  /** The oracle's shared CTE chain (payload bytes → planted variants
    * → signatures → capped blocks → candidates) — embedded verbatim
    * by [[qBlobPhashSql]] and the cluster twin [[qBlobClustersSql]],
    * so the two queries' pair graphs match by construction. */
  private val phashPairCtesSql: String = {
    val lastR = PhashRegions - 1
    s"""b AS (SELECT doc_id, LOWER(HEX(ENCODE(text))) AS h,
       |    OCTET_LENGTH(ENCODE(text)) AS n FROM documents
       |  WHERE OCTET_LENGTH(ENCODE(text)) > 0),
       |by AS (SELECT doc_id, n,
       |    (STRPOS('0123456789abcdef', SUBSTRING(h, 2*i+1, 1)) - 1) * 16 +
       |    (STRPOS('0123456789abcdef', SUBSTRING(h, 2*i+2, 1)) - 1) AS v, i
       |  FROM (SELECT doc_id, h, n, UNNEST(range(0, n)) AS i FROM b)),
       |byv AS (SELECT doc_id, n, v, i FROM by
       |  UNION ALL
       |  SELECT doc_id + $PhashV1Offset, n, (v + 4) % 256, i
       |  FROM by WHERE doc_id % $PhashVariantMod = 0
       |  UNION ALL
       |  SELECT doc_id + $PhashV2Offset, n,
       |    CASE WHEN i < n // 3 THEN (v + 16) % 256 ELSE v END, i
       |  FROM by WHERE doc_id % $PhashVariantMod = 0),
       |docs AS (SELECT doc_id, n FROM b
       |  UNION ALL SELECT doc_id + $PhashV1Offset, n
       |  FROM b WHERE doc_id % $PhashVariantMod = 0
       |  UNION ALL SELECT doc_id + $PhashV2Offset, n
       |  FROM b WHERE doc_id % $PhashVariantMod = 0),
       |reg AS (SELECT doc_id, CAST((i * $PhashRegions) // n AS INT) AS r,
       |    CAST(SUM(v) AS BIGINT) AS s, COUNT(*) AS c
       |  FROM byv GROUP BY 1, 2),
       |grid AS (SELECT doc_id, CAST(UNNEST(range(0, $PhashRegions)) AS INT) AS r FROM docs),
       |rg AS (SELECT grid.doc_id, grid.r, COALESCE(reg.s, 0) AS s,
       |    COALESCE(reg.c, 0) AS c
       |  FROM grid LEFT JOIN reg ON reg.doc_id = grid.doc_id AND reg.r = grid.r),
       |cmp AS (SELECT a.doc_id, a.r AS idx,
       |    CASE WHEN a.s * n2.c > n2.s * a.c THEN 1 ELSE 0 END AS bit
       |  FROM rg a JOIN rg n2 ON n2.doc_id = a.doc_id AND n2.r = a.r + 1
       |  WHERE a.r < $lastR),
       |sig AS (SELECT doc_id,
       |    CAST(SUM(CASE WHEN idx // 16 = 0 THEN bit << (idx % 16) ELSE 0 END) AS INT) AS p0,
       |    CAST(SUM(CASE WHEN idx // 16 = 1 THEN bit << (idx % 16) ELSE 0 END) AS INT) AS p1,
       |    CAST(SUM(CASE WHEN idx // 16 = 2 THEN bit << (idx % 16) ELSE 0 END) AS INT) AS p2,
       |    CAST(SUM(CASE WHEN idx // 16 = 3 THEN bit << (idx % 16) ELSE 0 END) AS INT) AS p3
       |  FROM cmp GROUP BY 1),
       |pieces AS (
       |  SELECT doc_id, 0 AS pi, p0 AS pv FROM sig UNION ALL
       |  SELECT doc_id, 1, p1 FROM sig UNION ALL
       |  SELECT doc_id, 2, p2 FROM sig UNION ALL
       |  SELECT doc_id, 3, p3 FROM sig),
       |blocks AS (SELECT doc_id, pi, pv FROM (
       |    SELECT doc_id, pi, pv, COUNT(*) OVER (PARTITION BY pi, pv) AS bsz
       |    FROM pieces) WHERE bsz <= $PhashBlockCap),
       |cand AS (SELECT DISTINCT a.doc_id AS d1, b2.doc_id AS d2
       |  FROM blocks a JOIN blocks b2 ON a.pi = b2.pi AND a.pv = b2.pv
       |    AND a.doc_id < b2.doc_id)""".stripMargin
  }

  val qBlobPhashSql: String =
    s"""WITH $phashPairCtesSql
       |SELECT d1, d2,
       |  CAST(bit_count(xor(sa.p0, sb.p0)) + bit_count(xor(sa.p1, sb.p1)) +
       |       bit_count(xor(sa.p2, sb.p2)) + bit_count(xor(sa.p3, sb.p3)) AS INT) AS hamming
       |FROM cand JOIN sig sa ON sa.doc_id = d1 JOIN sig sb ON sb.doc_id = d2
       |WHERE bit_count(xor(sa.p0, sb.p0)) + bit_count(xor(sa.p1, sb.p1)) +
       |      bit_count(xor(sa.p2, sb.p2)) + bit_count(xor(sa.p3, sb.p3)) <= $PhashHammingMax
       |ORDER BY d1, d2""".stripMargin

  /** Media dedup CLUSTERS: connected components over the perceptual
    * pair graph — the survivor-selection unit of multimodal dedup
    * (keep one blob per cluster), composing [[qBlobPhash]]'s edge set
    * with the same label-propagation engine as the text-side
    * `q_dedup_clusters` (min-label + two-hop path compression over
    * the edge-touching sliver only; singletons never iterate). A
    * planted re-encode family (base + its two byte-variants, see
    * [[PhashVariantMod]]) lands in ONE cluster — transitively, even
    * when only the base links the two variants.
    *
    * Scale shape: the iterating frame is the edge-touching sliver
    * (dup rate × corpus); the pair generation is the capped blocking
    * above — nothing here is all-pairs, nothing iterates over the
    * full corpus.
    *
    * Bench watch: regresses if singletons ever enter the iteration. */
  def qBlobClusters(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val sigs = phashSigs(s, dir).localCheckpoint(true)
    Dedup.connectedComponents(
      sigs.select($"doc_id"),
      phashPairsOf(sigs).select("d1", "d2"))
  }

  /** Oracle twin: the shared pair CTEs + the same recursive
    * transitive closure as the text-side cluster oracle (MIN label
    * per reachable set), over the full blob node set `docs`. */
  val qBlobClustersSql: String =
    s"""WITH RECURSIVE
       |$phashPairCtesSql,
       |jp AS (SELECT d1, d2
       |  FROM cand JOIN sig sa ON sa.doc_id = d1 JOIN sig sb ON sb.doc_id = d2
       |  WHERE bit_count(xor(sa.p0, sb.p0)) + bit_count(xor(sa.p1, sb.p1)) +
       |        bit_count(xor(sa.p2, sb.p2)) + bit_count(xor(sa.p3, sb.p3))
       |          <= $PhashHammingMax),
       |edges AS (SELECT d1 AS src, d2 AS dst FROM jp
       |          UNION ALL SELECT d2, d1 FROM jp),
       |reach(node, lbl) AS (
       |  SELECT doc_id, doc_id FROM docs
       |  UNION
       |  SELECT e.dst, r.lbl FROM edges e JOIN reach r ON r.node = e.src),
       |lab AS (SELECT node AS doc_id, MIN(lbl) AS cluster_id
       |  FROM reach GROUP BY 1),
       |sz AS (SELECT cluster_id, COUNT(*) AS cluster_size FROM lab GROUP BY 1)
       |SELECT lab.doc_id, lab.cluster_id, sz.cluster_size
       |FROM lab JOIN sz USING (cluster_id)
       |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------
  // STORED perceptual-signature index — the at-rest half of blob
  // near-dup, the same lifecycle discipline as the text dedup indexes:
  // signatures are computed ONCE at ingest and kept as a piece-keyed
  // index; a nightly blob batch decodes only itself and probes the
  // bucket-pruned index, so per-batch cost is bounded by the batch at
  // any corpus size. Piece rows are denormalized with their full
  // signature, so candidate verification is join-free at read.

  import org.apache.spark.sql.types.{StructType, StructField, LongType, IntegerType}

  /** Hash buckets the piece index is partitioned into — the probe's
    * pruning unit ([[phashBk]]). */
  val PhashIndexBuckets = 64

  /** Partition bucket of a (piece, value) key. */
  private def phashBk(pi: Column, pv: Column): Column =
    pmod(hash(pi, pv), lit(PhashIndexBuckets)).cast("long")

  /** The piece index ([[phashPieceRows]]), partitioned by `bk`. */
  private[graft] val PhashIndexStore = Store(StructType(Seq(
    StructField("doc_id", LongType), StructField("pi", IntegerType),
    StructField("pv", IntegerType), StructField("p0", IntegerType),
    StructField("p1", IntegerType), StructField("p2", IntegerType),
    StructField("p3", IntegerType), StructField("bk", LongType))), Seq("bk"))

  /** Signature frame (doc_id, p0..p3) → its 4-rows-per-doc piece-index
    * image: the (pi, pv) blocking key, the full signature carried
    * alongside (verification never joins back), and the partition
    * bucket. */
  private[graft] def phashPieceRows(sigs: DataFrame): DataFrame = {
    val p = sigs.selectExpr("doc_id", "p0", "p1", "p2", "p3",
      "stack(4, 0, p0, 1, p1, 2, p2, 3, p3) AS (pi, pv)")
    p.withColumn("bk", phashBk(p("pi"), p("pv")))
  }

  // --- doc_id membership sidecar -------------------------------
  // The fold's first-write-wins anti-join needs "is this doc_id
  // already in the corpus" — asking the PIECE index that question
  // costs a corpus-wide doc_id distinct SHUFFLE per nightly batch
  // (4 rows/doc × 8 columns scanned, then deduplicated; the r13
  // verdict's one remaining O(corpus)-per-batch step). The sidecar
  // keeps exactly ONE (doc_id, batch_id) row per corpus doc,
  // hash-partitioned on `mb = doc_id mod M`, so membership is a
  // plain anti-join against an already-distinct 16-byte-per-doc
  // table with NO shuffle on the stored side beyond the join's own,
  // pruned to the batch's mb partitions (an id-clustered nightly
  // batch — fresh ids are sequential — touches few partitions; M
  // scales with the corpus so each partition stays a few GB). The
  // modulus (not a hash) keeps the partition computable from the
  // doc_id alone, the ObjectIndex director-index rule.

  /** Hash-partition count of the membership sidecar (`mb = doc_id
    * mod this`). */
  val PhashMemberBuckets = 64

  /** Generation recorded for docs present at [[buildPhashIndex]] /
    * sidecar-rebuild time (streamed folds record their batch id). */
  val PhashMemberBaseGen = -1L

  private[graft] def phashMembersPath(indexPath: String): String =
    indexPath + "_members"

  private[graft] val PhashMembersStore = Store(StructType(Seq(
    StructField("doc_id", LongType), StructField("batch_id", LongType),
    StructField("mb", LongType))), Seq("mb"))

  private def phashMb(docId: Column): Column =
    pmod(docId, lit(PhashMemberBuckets.toLong))

  /** Heal-or-rebuild the membership sidecar for a COMPLETE index at
    * `indexPath`: crashed sidecar appends roll forward/back, and an
    * absent or incomplete sidecar is re-derived from the index (the
    * one-time recovery scan; the nightly path never takes it). The
    * sidecar is a derived-rebuildable cache of the index's doc_id
    * set, so this can never invent or lose membership. */
  private[graft] def ensurePhashMembers(s: SparkSession, indexPath: String): Unit = {
    import s.implicits._
    import graft.sources.Catalog
    val mp = phashMembersPath(indexPath)
    Catalog.recoverAppends(s, mp)
    if (!Catalog.tableComplete(s, mp)) {
      Catalog.dropIfExists(s, mp)
      val m = PhashIndexStore.read(s, indexPath).select($"doc_id").distinct()
        .withColumn("batch_id", lit(PhashMemberBaseGen))
        .withColumn("mb", phashMb($"doc_id"))
      PhashMembersStore.create(s, m, mp)
    }
  }

  /** Drop the stored piece index AND its membership sidecar — the
    * two are one lifecycle; dropping the index alone would leave a
    * sidecar claiming membership for docs the rebuilt index no
    * longer holds (their piece rows would be silently dropped at the
    * first fold). */
  private[graft] def dropPhashIndex(s: SparkSession, indexPath: String): Unit = {
    graft.sources.Catalog.dropIfExists(s, indexPath)
    graft.sources.Catalog.dropIfExists(s, phashMembersPath(indexPath))
    ()
  }

  /** Create the stored piece index from a signature frame (no-op if a
    * complete index already exists — the create-if-absent builder
    * discipline). The membership sidecar is (re)built alongside. */
  def buildPhashIndex(s: SparkSession, sigs: DataFrame,
    path: String): Boolean = {
    val created = PhashIndexStore.create(s, phashPieceRows(sigs), path)
    ensurePhashMembers(s, path)
    created
  }

  /** Near-dup pairs INVOLVING a new batch, against the stored index:
    * the batch's signatures probe only the bucket partitions its own
    * piece keys hash into (per-batch I/O bounded by the batch), plus
    * the batch's internal pairs — the nightly increment of
    * [[qBlobPhash]]'s corpus-wide scan. Both sides' blocks are
    * size-capped before pair generation ([[PhashBlockCap]] on the
    * stored side guards against a boilerplate signature's mega-block;
    * the cap on the batch side is the in-plan query's own guard).
    * Returns (d1 < d2, hamming ≤ [[PhashHammingMax]]); a batch doc
    * already folded into the index pairs with its stored self at
    * distance 0 — filter `d1 =!= d2` keeps replays from self-pairing.
    */
  def phashNewBlobs(s: SparkSession, path: String,
    batchSigs: DataFrame): DataFrame = {
    import s.implicits._
    // heal crashed folds before reading: a died-mid-commit append
    // would otherwise be silently read as a subset of its piece rows
    // (missed pairs, no error) — the heal-on-entry
    // discipline every other store in the module follows
    graft.sources.Catalog.recoverAppends(s, path)
    require(graft.sources.Catalog.tableComplete(s, path),
      s"$path is not a complete phash index — build it first")
    // pinned: the bucket collect, the stored probe, and the batch
    // self-join all consume the piece explode
    val bp = phashPieceRows(batchSigs).localCheckpoint()
    val bks = bp.select($"bk").distinct().collect().map(_.getLong(0))
    val storedSlice = PhashIndexStore.read(s, path).filter($"bk".isin(bks.toSeq: _*))
    // the block cap must be the CORPUS-WIDE block size, exactly as
    // [[qBlobPhash]] computes it (r13 review: capping each side
    // separately emitted pairs from blocks that are over-cap only in
    // aggregate — pairs the in-plan query and the oracle suppress).
    // A (pi, pv) block lives in exactly ONE bucket (bk is a function
    // of the block key), so the probed slice holds EVERY stored row
    // of every block the batch touches, and stored ∪ batch distinct
    // doc count IS the corpus-wide block size (distinct: an
    // already-folded batch doc counts once, like the corpus scan).
    val okBlocks = storedSlice.select($"pi", $"pv", $"doc_id")
      .unionByName(bp.select($"pi", $"pv", $"doc_id")).distinct()
      .groupBy($"pi", $"pv").agg(count(lit(1)).as("blk_n"))
      .filter($"blk_n" <= PhashBlockCap).select($"pi", $"pv")
    val stored = storedSlice.join(okBlocks, Seq("pi", "pv"), "left_semi")
    val batch = bp.join(okBlocks, Seq("pi", "pv"), "left_semi")
    def side(df: DataFrame, tag: String): DataFrame =
      df.select($"pi", $"pv", $"doc_id".as(s"d$tag"),
        $"p0".as(s"a0$tag"), $"p1".as(s"a1$tag"),
        $"p2".as(s"a2$tag"), $"p3".as(s"a3$tag"))
    val cross = side(batch, "x").join(side(stored, "y"), Seq("pi", "pv"))
      .filter($"dx" =!= $"dy")
    val within = side(batch, "x").join(side(batch, "y"), Seq("pi", "pv"))
      .filter($"dx" < $"dy")
    cross.unionByName(within)
      .select(least($"dx", $"dy").as("d1"), greatest($"dx", $"dy").as("d2"),
        expr("CAST(bit_count(a0x ^ a0y) + bit_count(a1x ^ a1y) + " +
          "bit_count(a2x ^ a2y) + bit_count(a3x ^ a3y) AS INT)").as("hamming"))
      .filter($"hamming" <= PhashHammingMax)
      .distinct()
  }

  /** Compact the perceptual lifecycle's accreting stores — every
    * nightly fold appends one file-set per batch, so after N batches
    * a bucket scan costs N tasks ([[graft.streaming.DocStream
    * .compactCorpus]]: at scale a 10,000-file partition costs a task
    * per file on every scan). Rewrites the piece index per `bk`
    * bucket, the membership sidecar per `mb` partition, and (when
    * given) the streamed pairs store per `batch_id` partition, each
    * to one file per partition.
    *
    * Retention note: the pairs store KEEPS its `batch_id`
    * partitioning — the partition key IS the arrival-batch telemetry
    * [[qBlobPhashBatches]] reports, and the empty partition
    * directories are the durable zero-pair completion markers the
    * frontier-resume logic reads, so folding batches together would
    * destroy both. Compaction only collapses the files WITHIN each
    * batch; a deployment that outgrows per-batch retention ages out
    * whole partitions with [[graft.sources.Catalog
    * .dropPartitionsBelow]] — it removes the files but keeps each
    * aged partition's (empty) dir, so replay guards and frontier
    * resume still see the batch as complete, and records the horizon
    * in the store's `_age_horizon` marker.
    *
    * Discipline (the [[graft.streaming.DocStream.compactCorpus]]
    * contract): each store's compaction
    * ([[graft.sources.Store.compact]]) REFUSES while a crashed append
    * is pending on it — rolling it forward or back is a recovery
    * decision ([[graft.sources.Catalog.recoverAppends]])
    * that must happen before a rewrite touches the files it would
    * recover. Fold markers and pairs partition dirs survive (dynamic
    * partition overwrite rewrites only data partitions), so replay
    * guards, probes, and future folds are unaffected — spec-proven.
    */
  def compactPhashIndex(s: SparkSession, indexPath: String,
    pairsPath: Option[String] = None, parallelism: Int = 16): Unit = {
    import graft.sources.Catalog
    // the sidecar is a derived-rebuildable cache: a pre-sidecar index
    // (or one whose _members store was dropped) heals here exactly as
    // updatePhashIndex heals on entry, instead of refusing with a
    // "build it first" that has no build entry point (r14 review)
    if (Catalog.tableComplete(s, indexPath))
      ensurePhashMembers(s, indexPath)
    val stores = Seq(indexPath -> PhashIndexStore,
      phashMembersPath(indexPath) -> PhashMembersStore) ++
      pairsPath.map(_ -> PhashPairsStore)
    for ((path, store) <- stores) store.compact(s, path, parallelism)
  }

  /** The fold's membership probe: which of the batch's doc_ids are
    * NOT yet in the corpus (first-write-wins — a re-ingested doc_id
    * is dropped no matter which buckets its old or new signature
    * hashes into, so re-encoded content under the SAME id folds
    * deterministically; the r13 fix). Two pruned anti-joins replace
    * the r13 corpus-wide doc_id distinct:
    *
    *  - the membership sidecar, pruned to the batch's `mb`
    *    partitions and to rows of OTHER batches — covers every doc
    *    folded by a previous batch or present at build. (Rows this
    *    batch id wrote itself are a crashed replay's own residue,
    *    handled next.)
    *  - the piece index, pruned to the batch's `bk` buckets — covers
    *    exactly the crash window where a replayed fold already
    *    committed its index append (those rows sit in the CURRENT
    *    signatures' buckets by determinism, so the pruned slice is
    *    guaranteed to contain them; cross-batch re-encodes are the
    *    sidecar's job, so this probe never needs the old buckets).
    *
    * Per-batch cost tracks the batch: both scans carry partition
    * filters (spec-asserted), the sidecar side is one pre-distinct
    * 16-byte row per doc in the touched partitions, and no corpus-
    * wide shuffle happens anywhere. Returns (doc_id, mb) rows,
    * pinned (two consumers: the sidecar append and the index
    * append's semi-join). */
  private[graft] def phashFreshDocsPlan(s: SparkSession, path: String,
    bp: DataFrame, batchId: Long): DataFrame = {
    import s.implicits._
    val batchDocs = bp.select($"doc_id").distinct()
      .withColumn("mb", phashMb($"doc_id"))
    val mbs = batchDocs.select($"mb").distinct().collect().map(_.getLong(0))
    val members = PhashMembersStore.read(s, phashMembersPath(path))
      .filter($"mb".isin(mbs.toSeq: _*))
      .filter($"batch_id" =!= lit(batchId))
      .select($"doc_id")
    val bks = bp.select($"bk").distinct().collect().map(_.getLong(0))
    val idxDocs = PhashIndexStore.read(s, path)
      .filter($"bk".isin(bks.toSeq: _*)).select($"doc_id")
    batchDocs
      .join(members, Seq("doc_id"), "left_anti")
      .join(idxDocs, Seq("doc_id"), "left_anti")
  }

  private[graft] def phashFreshDocs(s: SparkSession, path: String,
    bp: DataFrame, batchId: Long): DataFrame =
    phashFreshDocsPlan(s, path, bp, batchId).localCheckpoint()

  /** Fold a batch's signatures into the stored index — append-only,
    * first-write-wins via [[phashFreshDocs]] (batch-bounded
    * membership; the r13 corpus-wide distinct is gone). Append order
    * is sidecar THEN index THEN marker, and every crash window
    * replays clean: a crash inside either staged append heals on
    * entry; after the sidecar append, the replay ignores this batch
    * id's own sidecar rows (and skips re-appending them); after the
    * index append, the bucket-pruned index anti-join finds the
    * committed rows and the replay appends nothing. Replay-guarded
    * by a caller-supplied batch id marker, the
    * [[graft.queries.Spatial]] nightly-lifecycle discipline. */
  def updatePhashIndex(s: SparkSession, path: String,
    batchSigs: DataFrame, batchId: Long): Unit = {
    import s.implicits._
    import graft.sources.Catalog
    Catalog.recoverAppends(s, path)
    require(Catalog.tableComplete(s, path),
      s"$path is not a complete phash index — build it first")
    val root = new org.apache.hadoop.fs.Path(path)
    val f = root.getFileSystem(s.sparkContext.hadoopConfiguration)
    val marker = new org.apache.hadoop.fs.Path(root, s"_phash_fold_$batchId")
    if (f.exists(marker)) return
    ensurePhashMembers(s, path)
    val mp = phashMembersPath(path)
    val bp = phashPieceRows(batchSigs).localCheckpoint()
    if (!bp.isEmpty) {
      val freshDocs = phashFreshDocs(s, path, bp, batchId)
      if (!freshDocs.isEmpty) {
        // skip sidecar rows a crashed replay of THIS fold already
        // committed (they are excluded from the probe above, so they
        // would re-append forever otherwise)
        val own = PhashMembersStore.read(s, phashMembersPath(path))
          .filter($"mb".isin(
            freshDocs.select($"mb").distinct().collect().map(_.getLong(0)).toSeq: _*))
          .filter($"batch_id" === lit(batchId)).select($"doc_id")
        val newMembers = freshDocs.join(own, Seq("doc_id"), "left_anti")
          .withColumn("batch_id", lit(batchId))
          .select($"doc_id", $"batch_id", $"mb")
        if (!newMembers.isEmpty) PhashMembersStore.append(s, newMembers, mp)
        val fresh = bp.join(freshDocs.select($"doc_id"), Seq("doc_id"), "left_semi")
        PhashIndexStore.append(s, fresh, path)
      }
    }
    f.create(marker, true).close()
  }

  /** Signature frame of a raw blob batch (doc_id, blob) — the
    * streaming ingest's decode pass: one [[BlobSig]] row per
    * non-empty delivered payload, nothing else (the registered-corpus
    * derivation [[phashSigs]] additionally plants its harness
    * variants; a production stream signs exactly what arrives). */
  def sigsOfBlobs(batch: DataFrame): DataFrame = {
    val s = batch.sparkSession
    import s.implicits._
    batch.filter(length(col("blob")) > 0)
      .select(col("doc_id"), col("blob")).as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, b) => phashPieces(id, b) })
      .toDF()
  }

  /** The streamed near-dup PAIRS store, partitioned by arrival
    * `batch_id` (an all-unique batch commits zero rows). */
  private[graft] val PhashPairsStore = Store(StructType(Seq(
    StructField("d1", LongType), StructField("d2", LongType),
    StructField("hamming", IntegerType), StructField("batch_id", LongType))),
    Seq("batch_id"))

  /** One full blob micro-batch — the perceptual-index twin of
    * [[graft.queries.Spatial.associateBatch]]: sign the delivered
    * payloads once, emit the near-dup pairs INVOLVING the batch
    * against the index AS OF this batch ([[phashNewBlobs]] — block
    * caps are evaluated over corpus-so-far ∪ batch, i.e. what
    * [[qBlobPhash]] would report over the corpus at this point in the
    * stream), append them to a `batch_id`-partitioned pairs store,
    * then fold the batch into the index ([[updatePhashIndex]], same
    * batch id). Pairs land BEFORE the fold, so a replayed
    * crash-window batch probes the same pre-fold index and the two
    * halves stay independently replay-guarded: the pairs commit skips
    * when its partition exists ([[graft.sources.Store.commitBatch]]),
    * the fold skips on its marker, and a crash inside either heals on
    * entry (the commit's heal / the fold's index-wide anti-join).
    * Returns pairs appended (0 on replay).
    *
    * 100 TB shape: per-batch cost tracks the batch — the probe reads
    * only the bucket partitions the batch's piece keys hash into, and
    * the fold appends inside its own partitions. */
  def blobBatch(s: SparkSession, batch: DataFrame, indexPath: String,
    pairsPath: String, batchId: Long): Long = {
    val sigs = sigsOfBlobs(batch).localCheckpoint() // pairs AND fold
    // an all-unique batch still leaves its (empty) partition
    // directory, so [[ensurePhashStream]]'s frontier detection can
    // tell "ran, zero pairs" from "never ran" (a replay AFTER later
    // batches fold would mis-attribute their cross pairs to it)
    val n = PhashPairsStore.commitBatch(s, pairsPath, batchId) {
      phashNewBlobs(s, indexPath, sigs)
    }
    updatePhashIndex(s, indexPath, sigs, batchId)
    n
  }

  /** Content-keyed registered index location (the ANN stored-model
    * cache pattern — regenerated test data can never read a stale
    * index). */
  private def phashIndexPath(dir: String): String =
    Store.derivedPath(dir, "phash_idx", Seq("documents.parquet"))

  /** Micro-batches the registered streamed-lifecycle corpus is split
    * into (batch = doc_id mod this — deterministic, so the oracle
    * reproduces both the assignment and each pair's ARRIVAL batch). */
  private[graft] val PhashStreamBatches = 3

  private def phashStreamPaths(dir: String): (String, String) =
    (Store.derivedPath(dir, "phash_sidx", Seq("documents.parquet")),
      Store.derivedPath(dir, "phash_pairs", Seq("documents.parquet")))

  /** Build (or heal) the registered STREAMED perceptual lifecycle for
    * `dir`: a cold-start empty index, then the corpus through
    * [[blobBatch]] in [[PhashStreamBatches]] deterministic
    * micro-batches — exactly what [[graft.streaming.BlobStream]]
    * does per delivered batch, so the registered query exercises the
    * same code path the stream runs. Every half is replay-guarded;
    * the warm path short-circuits on the fold markers + pairs
    * partitions and touches nothing. Returns (indexPath,
    * pairsPath). */
  private[graft] def ensurePhashStream(s: SparkSession, dir: String): (String, String) = {
    import graft.sources.Catalog
    val (idxPath, pairsPath) = phashStreamPaths(dir)
    val root = new org.apache.hadoop.fs.Path(idxPath)
    val f = root.getFileSystem(s.sparkContext.hadoopConfiguration)
    val pairsRoot = new org.apache.hadoop.fs.Path(pairsPath)
    val n = PhashStreamBatches
    // per-batch durable completion: the fold marker (index half) and
    // the pairs partition directory (pairs half — [[blobBatch]]
    // mkdirs it even for a zero-pair batch)
    val idxOk = Catalog.tableComplete(s, idxPath)
    val pairsOk = Catalog.tableComplete(s, pairsPath)
    val folds = (0 until n).map(b => idxOk &&
      f.exists(new org.apache.hadoop.fs.Path(root, s"_phash_fold_$b")))
    val pairsDone = (0 until n).map(b => pairsOk &&
      f.exists(new org.apache.hadoop.fs.Path(pairsRoot, s"batch_id=$b")))
    if (!(folds.forall(identity) && pairsDone.forall(identity))) {
      import s.implicits._
      // Resume is sound ONLY from a crash frontier: batches run in
      // order and each writes pairs THEN folds, so the valid at-rest
      // states are a fold prefix p with a pairs prefix q ∈ {p, p+1} —
      // the replayed batch then probes exactly its as-of (pre-fold)
      // index. Anything else (a lost middle partition, foreign
      // leftovers) cannot be resumed without attributing later-folded
      // batches' cross pairs to the replay, so wipe both halves and
      // rebuild from the corpus (both paths are graft-keyed names
      // under the index root — never a user table).
      val p = folds.takeWhile(identity).size
      val q = pairsDone.takeWhile(identity).size
      val frontier = folds.drop(p).forall(!_) && pairsDone.drop(q).forall(!_) &&
        (q == p || q == p + 1)
      if (!frontier) {
        dropPhashIndex(s, idxPath)
        Catalog.dropIfExists(s, pairsPath)
      }
      Store.heal(s, idxPath)
      if (!Catalog.tableComplete(s, idxPath))
        buildPhashIndex(s, s.emptyDataset[BlobSig].toDF(), idxPath)
      // each (re)played batch re-derives its slice of the corpus —
      // three pruned passes at build time beat pinning every payload
      // byte in block storage for the whole loop (the decode into
      // 4-int signatures happens per batch inside blobBatch either
      // way, and per-batch cost must track the batch, not the corpus)
      val start = if (frontier) p else 0
      (start until n).foreach { b =>
        blobBatch(s,
          blobsWithVariants(s, dir).filter(pmod($"doc_id", lit(n)) === b),
          idxPath, pairsPath, b.toLong)
      }
      // The oracle attributes each pair with FULL-corpus block caps;
      // the stream capped each probe at corpus-AS-OF-batch size. The
      // two agree only while no block is capped anywhere (prefix
      // sizes are monotone ≤ corpus size), so guard the equivalence
      // at build time: the index holds every piece row uncapped, so
      // its largest (pi, pv) block IS the corpus-wide maximum.
      val maxBlk = PhashIndexStore.read(s, idxPath)
        .groupBy($"pi", $"pv").agg(count(lit(1)).as("c"))
        .agg(max($"c")).collect()(0)
      if (!maxBlk.isNullAt(0) && maxBlk.getLong(0) > PhashBlockCap) {
        // the stores are complete-on-disk at this point, so a later
        // call would take the warm short-circuit above and silently
        // serve the diverged pairs the guard exists to reject — drop
        // both halves BEFORE throwing so every subsequent call
        // rebuilds and re-faces this guard (advice r13)
        dropPhashIndex(s, idxPath)
        Catalog.dropIfExists(s, pairsPath)
        throw new IllegalStateException(
          s"perceptual corpus at $dir has a (pi, pv) block of " +
            s"${maxBlk.getLong(0)} > PhashBlockCap $PhashBlockCap: " +
            "as-of-batch caps no longer equal the full-corpus caps, " +
            "so the streamed pairs store would diverge from the " +
            "brute-force oracle attribution — raise the cap or " +
            "re-batch the corpus")
      }
    }
    (idxPath, pairsPath)
  }

  /** Per-batch near-dup telemetry over the STREAMED pairs store — the
    * nightly-operations curve of the perceptual lifecycle (the
    * [[graft.queries.Spatial.qAssocHistory]] discipline one modality
    * over): per micro-batch, how many near-dup pairs ARRIVED (a pair
    * lands with its later doc's batch) and how many were exact
    * perceptual twins (Hamming 0 — the re-encode signature). A batch
    * whose docs pair with nothing still reports a zero row. The
    * query MAINTAINS the lifecycle it reads (cold-start build +
    * [[blobBatch]] per batch, all replay-guarded); the DuckDB oracle
    * recomputes the full corpus pair set brute-force and re-derives
    * each pair's arrival batch, so the hash certifies the streamed
    * store's CONTENT, not just its shape.
    *
    * Bench watch: regresses if the read stops pruning to the pairs
    * store (the first sample builds the streamed lifecycle). */
  def qBlobPhashBatches(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (_, pairsPath) = ensurePhashStream(s, dir)
    val g = s.range(PhashStreamBatches.toLong).select($"id".as("batch_id"))
    PhashPairsStore.read(s, pairsPath)
      .groupBy($"batch_id")
      .agg(count(lit(1)).as("n_pairs"),
        sum(when($"hamming" === 0, 1L).otherwise(0L)).as("n_h0"))
      .join(g, Seq("batch_id"), "right")
      .select($"batch_id", coalesce($"n_pairs", lit(0L)).as("n_pairs"),
        coalesce($"n_h0", lit(0L)).as("n_h0"))
      .orderBy($"batch_id")
  }

  /** Oracle twin of [[qBlobPhashBatches]]: the full
    * [[qBlobPhashSql]] pair set as a CTE, each pair attributed to its
    * arrival batch `GREATEST(d1 % n, d2 % n)` (the stream emits a
    * pair when its LATER doc's batch probes the index — earlier docs
    * are at rest in the stored half by then), left-joined against the
    * batch range so an all-unique batch keeps its zero row. Block
    * caps need no as-of-batch re-derivation here: the corpus' largest
    * (piece, value) block is 8 ≪ the cap of 50, so prefix caps and
    * the final corpus cap agree vacuously. */
  val qBlobPhashBatchesSql: String =
    s"""WITH pairs AS ($qBlobPhashSql),
       |agg AS (
       |  SELECT GREATEST(d1 % $PhashStreamBatches, d2 % $PhashStreamBatches) AS batch_id,
       |    COUNT(*) AS n_pairs,
       |    CAST(SUM(CASE WHEN hamming = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_h0
       |  FROM pairs GROUP BY 1)
       |SELECT g.batch_id, CAST(COALESCE(agg.n_pairs, 0) AS BIGINT) AS n_pairs,
       |  CAST(COALESCE(agg.n_h0, 0) AS BIGINT) AS n_h0
       |FROM (SELECT CAST(range AS BIGINT) AS batch_id
       |      FROM range($PhashStreamBatches)) g
       |LEFT JOIN agg USING (batch_id)
       |ORDER BY batch_id""".stripMargin

  /** [[qBlobPhash]] answered FROM THE STORED INDEX — identical
    * contract and oracle, but signatures come from the at-rest piece
    * table (no decode pass) and verification reads the carried
    * signature columns (no join back): the production shape where
    * ingest paid the decode once. First execution builds the index
    * (crashed partial builds rebuild — it is a derived cache, the
    * [[Ann.ivfStoredModel]] pattern); the measured warm path is one
    * index scan + the capped block self-join.
    *
    * Bench watch: the warm path is one piece-table scan + the capped
    * block self-join (no decode, no join-back), so it should bench
    * BELOW the in-plan q_blob_phash. */
  def qBlobPhashStored(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val path = phashIndexPath(dir)
    // resolve crashed folds before the completeness check — a
    // died-mid-commit append leaves the original _SUCCESS in place,
    // so without healing the read would silently miss piece rows
    graft.sources.Catalog.recoverAppends(s, path)
    if (!graft.sources.Catalog.tableComplete(s, path)) {
      dropPhashIndex(s, path)
      buildPhashIndex(s, phashSigs(s, dir), path)
    }
    val blocks = Dedup.capBlocks(PhashIndexStore.read(s, path),
      Seq("pi", "pv"), PhashBlockCap)
    def side(tag: String): DataFrame =
      blocks.select($"pi", $"pv", $"doc_id".as(s"d$tag"),
        $"p0".as(s"a0$tag"), $"p1".as(s"a1$tag"),
        $"p2".as(s"a2$tag"), $"p3".as(s"a3$tag"))
    side("1").join(side("2"), Seq("pi", "pv"))
      .filter($"d1" < $"d2")
      .withColumn("hamming", expr(
        "CAST(bit_count(a01 ^ a02) + bit_count(a11 ^ a12) + " +
          "bit_count(a21 ^ a22) + bit_count(a31 ^ a32) AS INT)"))
      .filter($"hamming" <= PhashHammingMax)
      .select($"d1", $"d2", $"hamming")
      .distinct()
      .orderBy($"d1", $"d2")
  }

  // ---------------------------------------------------------------
  // Cross-modal contamination telemetry — the mixed-modality dup mass
  // a training pipeline actually monitors: a re-captioned duplicate
  // image is TEXT-unique but a perceptual BLOB twin (it survives
  // every text dedup pass), and a re-used caption over a different
  // image is a TEXT dup whose blob is far (text dedup would wrongly
  // collapse genuinely distinct media). The query joins the
  // perceptual pair graph to the exact-text dup graph over one
  // corpus; the DuckDB oracle re-derives BOTH graphs brute-force.

  /** Third planted variant: SAME caption, perceptually-far payload
    * (every byte inverted, `255 - b` — the cross-multiplied region
    * comparison strictly inverts under complement, so the signature
    * is ~bitwise-flipped and the pair lands far beyond
    * [[PhashHammingMax]]). The plant makes the text_dup_blob_far
    * direction non-vacuous, exactly as [[PhashV1Offset]]/
    * [[PhashV2Offset]] make blob_twin_text_new non-vacuous. */
  val PhashV3Offset = 30000000L

  /** The cross-modal corpus at the (doc_id, text, blob) level: every
    * non-empty doc, plus per [[PhashVariantMod]]-th doc the two
    * re-encode variants of [[blobsWithVariants]] now carrying
    * REWRITTEN captions (blob twin, text new) and the [[
    * PhashV3Offset]] caption-reuse plant (text dup, blob far). Kept
    * separate from [[blobsWithVariants]] so the registered perceptual
    * queries' pair sets are untouched. */
  private[graft] def modalCorpus(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .select($"doc_id", $"text", encode($"text", "UTF-8").as("blob"))
      .filter(length($"blob") > 0)
      .as[(Long, String, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, t, b) =>
        if (id % PhashVariantMod == 0) {
          val n = b.length
          val v1 = new Array[Byte](n)
          val v2 = new Array[Byte](n)
          val v3 = new Array[Byte](n)
          val pfx = n / 3
          var i = 0
          while (i < n) {
            v1(i) = (b(i) + 4).toByte // toByte wraps mod 256 = oracle's %256
            v2(i) = if (i < pfx) (b(i) + 16).toByte else b(i)
            v3(i) = (255 - (b(i) & 0xff)).toByte
            i += 1
          }
          Seq((id, t, b),
            (id + PhashV1Offset, t + " [re-encoded]", v1),
            (id + PhashV2Offset, t + " [crop]", v2),
            (id + PhashV3Offset, t, v3))
        } else Seq((id, t, b))
      })
      .toDF("doc_id", "text", "blob")
  }

  /** Caption table of [[modalCorpus]] — derived declaratively (no
    * blob bytes read: the decode pass stays single). */
  private def modalTexts(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val base = Tables.documents(s, dir)
      .filter(length($"text") > 0)
      .select($"doc_id", $"text")
    val planted = base.filter(pmod($"doc_id", lit(PhashVariantMod.toLong)) === 0)
    base
      .unionByName(planted.select(($"doc_id" + PhashV1Offset).as("doc_id"),
        concat($"text", lit(" [re-encoded]")).as("text")))
      .unionByName(planted.select(($"doc_id" + PhashV2Offset).as("doc_id"),
        concat($"text", lit(" [crop]")).as("text")))
      .unionByName(planted.select(($"doc_id" + PhashV3Offset).as("doc_id"),
        $"text"))
  }

  /** Cross-modal dup mismatches over [[modalCorpus]]:
    *  - `blob_twin_text_new` — perceptual pairs (Hamming ≤
    *    [[PhashHammingMax]], the [[qBlobPhash]] graph) whose captions
    *    DIFFER: dup mass every text-level dedup pass misses.
    *  - `text_dup_blob_far` — exact-caption pairs whose signatures
    *    sit beyond the threshold: distinct media a text dedup would
    *    wrongly collapse.
    *
    * Scale shape: one decode pass to 4-int signatures; both pair
    * generators are capped equi-join blockings (pieces for the
    * perceptual graph, md5(caption) blocks for the text graph — the
    * boilerplate-caption mega-group is dropped at [[PhashBlockCap]]
    * exactly like a monochrome signature block); caption strings
    * move only for the surviving pair set.
    *
    * Bench watch: regresses if either candidate graph goes all-pairs. */
  def qModalMismatch(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // sigs: three consumers inside phashPairsOf + the text_dup verify
    val sigs = sigsOfBlobs(modalCorpus(s, dir)).localCheckpoint(true)
    // pinned: the two caption join sides AND the md5 block build all
    // consume this frame, each below a different-key shuffle (d1, d2,
    // th), so without a pin the 4-branch documents union re-runs
    // three times (the sigs/qRepeatability multi-consumer convention)
    val texts = modalTexts(s, dir).localCheckpoint()
    def tside(tag: String): DataFrame =
      texts.select($"doc_id".as(s"d$tag"), $"text".as(s"t$tag"))
    val btn = phashPairsOf(sigs)
      .join(tside("1"), "d1").join(tside("2"), "d2")
      .filter($"t1" =!= $"t2")
      .select(lit("blob_twin_text_new").as("kind"), $"d1", $"d2", $"hamming")
    val tb = Dedup.capBlocks(texts.withColumn("th", md5($"text")),
      Seq("th"), PhashBlockCap)
    val tp = tb.select($"th", $"doc_id".as("d1"))
      .join(tb.select($"th", $"doc_id".as("d2")), Seq("th"))
      .filter($"d1" < $"d2").select($"d1", $"d2")
    def sside(a: String, tag: String): DataFrame =
      sigs.select($"doc_id".as(s"d$tag"), $"p0".as(s"${a}0"),
        $"p1".as(s"${a}1"), $"p2".as(s"${a}2"), $"p3".as(s"${a}3"))
    val tdf = tp.join(sside("a", "1"), "d1").join(sside("b", "2"), "d2")
      .withColumn("hamming", expr(
        "CAST(bit_count(a0 ^ b0) + bit_count(a1 ^ b1) + " +
          "bit_count(a2 ^ b2) + bit_count(a3 ^ b3) AS INT)"))
      .filter($"hamming" > PhashHammingMax)
      .select(lit("text_dup_blob_far").as("kind"), $"d1", $"d2", $"hamming")
    btn.unionByName(tdf).orderBy($"kind", $"d1", $"d2")
  }

  /** Oracle twin of [[qModalMismatch]]: the [[qBlobPhashSql]]
    * derivation extended with the V3 byte complement (`255 - v`) and
    * a caption CTE, then both graphs re-derived — the perceptual
    * pairs with caption inequality, and the md5-blocked exact-caption
    * pairs verified far by the same packed signatures. */
  val qModalMismatchSql: String = {
    val lastR = PhashRegions - 1
    s"""WITH b AS (SELECT doc_id, text, LOWER(HEX(ENCODE(text))) AS h,
       |    OCTET_LENGTH(ENCODE(text)) AS n FROM documents
       |  WHERE OCTET_LENGTH(ENCODE(text)) > 0),
       |by AS (SELECT doc_id, n,
       |    (STRPOS('0123456789abcdef', SUBSTRING(h, 2*i+1, 1)) - 1) * 16 +
       |    (STRPOS('0123456789abcdef', SUBSTRING(h, 2*i+2, 1)) - 1) AS v, i
       |  FROM (SELECT doc_id, h, n, UNNEST(range(0, n)) AS i FROM b)),
       |byv AS (SELECT doc_id, n, v, i FROM by
       |  UNION ALL
       |  SELECT doc_id + $PhashV1Offset, n, (v + 4) % 256, i
       |  FROM by WHERE doc_id % $PhashVariantMod = 0
       |  UNION ALL
       |  SELECT doc_id + $PhashV2Offset, n,
       |    CASE WHEN i < n // 3 THEN (v + 16) % 256 ELSE v END, i
       |  FROM by WHERE doc_id % $PhashVariantMod = 0
       |  UNION ALL
       |  SELECT doc_id + $PhashV3Offset, n, 255 - v, i
       |  FROM by WHERE doc_id % $PhashVariantMod = 0),
       |docs AS (SELECT doc_id, n FROM b
       |  UNION ALL SELECT doc_id + $PhashV1Offset, n
       |  FROM b WHERE doc_id % $PhashVariantMod = 0
       |  UNION ALL SELECT doc_id + $PhashV2Offset, n
       |  FROM b WHERE doc_id % $PhashVariantMod = 0
       |  UNION ALL SELECT doc_id + $PhashV3Offset, n
       |  FROM b WHERE doc_id % $PhashVariantMod = 0),
       |txt AS (SELECT doc_id, text FROM b
       |  UNION ALL SELECT doc_id + $PhashV1Offset, text || ' [re-encoded]'
       |  FROM b WHERE doc_id % $PhashVariantMod = 0
       |  UNION ALL SELECT doc_id + $PhashV2Offset, text || ' [crop]'
       |  FROM b WHERE doc_id % $PhashVariantMod = 0
       |  UNION ALL SELECT doc_id + $PhashV3Offset, text
       |  FROM b WHERE doc_id % $PhashVariantMod = 0),
       |reg AS (SELECT doc_id, CAST((i * $PhashRegions) // n AS INT) AS r,
       |    CAST(SUM(v) AS BIGINT) AS s, COUNT(*) AS c
       |  FROM byv GROUP BY 1, 2),
       |grid AS (SELECT doc_id, CAST(UNNEST(range(0, $PhashRegions)) AS INT) AS r FROM docs),
       |rg AS (SELECT grid.doc_id, grid.r, COALESCE(reg.s, 0) AS s,
       |    COALESCE(reg.c, 0) AS c
       |  FROM grid LEFT JOIN reg ON reg.doc_id = grid.doc_id AND reg.r = grid.r),
       |cmp AS (SELECT a.doc_id, a.r AS idx,
       |    CASE WHEN a.s * n2.c > n2.s * a.c THEN 1 ELSE 0 END AS bit
       |  FROM rg a JOIN rg n2 ON n2.doc_id = a.doc_id AND n2.r = a.r + 1
       |  WHERE a.r < $lastR),
       |sig AS (SELECT doc_id,
       |    CAST(SUM(CASE WHEN idx // 16 = 0 THEN bit << (idx % 16) ELSE 0 END) AS INT) AS p0,
       |    CAST(SUM(CASE WHEN idx // 16 = 1 THEN bit << (idx % 16) ELSE 0 END) AS INT) AS p1,
       |    CAST(SUM(CASE WHEN idx // 16 = 2 THEN bit << (idx % 16) ELSE 0 END) AS INT) AS p2,
       |    CAST(SUM(CASE WHEN idx // 16 = 3 THEN bit << (idx % 16) ELSE 0 END) AS INT) AS p3
       |  FROM cmp GROUP BY 1),
       |pieces AS (
       |  SELECT doc_id, 0 AS pi, p0 AS pv FROM sig UNION ALL
       |  SELECT doc_id, 1, p1 FROM sig UNION ALL
       |  SELECT doc_id, 2, p2 FROM sig UNION ALL
       |  SELECT doc_id, 3, p3 FROM sig),
       |blocks AS (SELECT doc_id, pi, pv FROM (
       |    SELECT doc_id, pi, pv, COUNT(*) OVER (PARTITION BY pi, pv) AS bsz
       |    FROM pieces) WHERE bsz <= $PhashBlockCap),
       |cand AS (SELECT DISTINCT a.doc_id AS d1, b2.doc_id AS d2
       |  FROM blocks a JOIN blocks b2 ON a.pi = b2.pi AND a.pv = b2.pv
       |    AND a.doc_id < b2.doc_id),
       |pp AS (SELECT d1, d2,
       |    CAST(bit_count(xor(sa.p0, sb.p0)) + bit_count(xor(sa.p1, sb.p1)) +
       |         bit_count(xor(sa.p2, sb.p2)) + bit_count(xor(sa.p3, sb.p3)) AS INT) AS hamming
       |  FROM cand JOIN sig sa ON sa.doc_id = d1 JOIN sig sb ON sb.doc_id = d2
       |  WHERE bit_count(xor(sa.p0, sb.p0)) + bit_count(xor(sa.p1, sb.p1)) +
       |        bit_count(xor(sa.p2, sb.p2)) + bit_count(xor(sa.p3, sb.p3)) <= $PhashHammingMax),
       |btn AS (SELECT 'blob_twin_text_new' AS kind, pp.d1, pp.d2, pp.hamming
       |  FROM pp JOIN txt t1 ON t1.doc_id = pp.d1
       |    JOIN txt t2 ON t2.doc_id = pp.d2
       |  WHERE t1.text != t2.text),
       |tb AS (SELECT doc_id, text FROM (
       |    SELECT doc_id, text, COUNT(*) OVER (PARTITION BY MD5(text)) AS bsz
       |    FROM txt) WHERE bsz <= $PhashBlockCap),
       |tp AS (SELECT a.doc_id AS d1, b2.doc_id AS d2
       |  FROM tb a JOIN tb b2 ON MD5(a.text) = MD5(b2.text)
       |    AND a.doc_id < b2.doc_id),
       |tdf AS (SELECT 'text_dup_blob_far' AS kind, tp.d1, tp.d2,
       |    CAST(bit_count(xor(sa.p0, sb.p0)) + bit_count(xor(sa.p1, sb.p1)) +
       |         bit_count(xor(sa.p2, sb.p2)) + bit_count(xor(sa.p3, sb.p3)) AS INT) AS hamming
       |  FROM tp JOIN sig sa ON sa.doc_id = tp.d1 JOIN sig sb ON sb.doc_id = tp.d2
       |  WHERE bit_count(xor(sa.p0, sb.p0)) + bit_count(xor(sa.p1, sb.p1)) +
       |        bit_count(xor(sa.p2, sb.p2)) + bit_count(xor(sa.p3, sb.p3)) > $PhashHammingMax)
       |SELECT kind, d1, d2, hamming FROM btn
       |UNION ALL SELECT kind, d1, d2, hamming FROM tdf
       |ORDER BY kind, d1, d2""".stripMargin
  }

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_blob_meta" -> (qBlobMeta _),
    "q_blob_qa" -> (qBlobQa _),
    "q_blob_features" -> (qBlobFeatures _),
    "q_blob_framesample" -> (qBlobFrameSample _),
    "q_blob_dedup" -> (qBlobDedup _),
    "q_blob_phash" -> (qBlobPhash _),
    "q_phash_recovery" -> (qPhashRecovery _),
    "q_blob_phash_stored" -> (qBlobPhashStored _),
    "q_blob_phash_batches" -> (qBlobPhashBatches _),
    "q_modal_mismatch" -> (qModalMismatch _),
    "q_blob_clusters" -> (qBlobClusters _))

  val oracles: Map[String, String] = Map(
    "q_blob_meta" -> qBlobMetaSql,
    "q_blob_qa" -> qBlobQaSql,
    "q_blob_features" -> qBlobFeaturesSql,
    "q_blob_framesample" -> qBlobFrameSampleSql,
    "q_blob_dedup" -> qBlobDedupSql,
    "q_blob_phash" -> qBlobPhashSql,
    "q_phash_recovery" -> qPhashRecoverySql,
    // identical contract to the in-plan perceptual scan: the stored
    // index must reproduce it bit-for-bit
    "q_blob_phash_stored" -> qBlobPhashSql,
    "q_blob_phash_batches" -> qBlobPhashBatchesSql,
    "q_modal_mismatch" -> qModalMismatchSql,
    "q_blob_clusters" -> qBlobClustersSql)
}
