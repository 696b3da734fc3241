package graft.queries

import org.apache.spark.sql.functions._

import graft.multimodal.Multimodal
import graft.operators.Pins
import graft.sources.Tables

/** Multimodal binary-column queries: payload synthesis → REAL
  * byte-level header decode → frame-style sampling.
  *
  * Testdata ships no media files, so each query synthesizes valid
  * PNG/JPEG container headers in front of the document bytes
  * ([[Multimodal.pngBytes]]/[[Multimodal.jpegBytes]] — deterministic
  * functions of doc stats) and then [[Multimodal.parseImageHeader]]
  * reads the dimensions BACK from the raw bytes: magic verification,
  * big-endian field extraction, length-prefixed segment walking. The
  * oracle derives the expected dimensions from the doc stats
  * independently, so a mis-read offset, endianness or segment-skip in
  * the parser breaks the hash gate.
  */
object MultimodalQueries {
  import QueryDef.sql

  // PNG: magic + IHDR (width = text byte length, height = a doc_id
  // residue, color type 2 = truecolor → 3 channels) in front of the
  // text payload; extractFeatures' HeaderDecoder parses the
  // dimensions out of the blob.
  val q47 = sql(
    "q47_multimodal_features",
    """SELECT doc_id,
      |  CAST(33 + octet_length(encode(text)) AS BIGINT) AS n_bytes,
      |  CAST(octet_length(encode(text)) AS INT) AS width,
      |  CAST(doc_id % 512 + 1 AS INT) AS height,
      |  CAST(3 AS INT) AS channels
      |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
    import s.implicits._
    val blobs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .mapPartitions(_.map { case (id, text) =>
        val tb = text.getBytes("UTF-8")
        (id, Multimodal.pngBytes(tb.length, (id % 512 + 1).toInt, 2, tb))
      }).toDF("doc_id", "payload")
    Multimodal.extractFeatures(s, blobs)
      .select(col("doc_id"), col("n_bytes"),
        element_at(col("features"), 1).cast("int").as("width"),
        element_at(col("features"), 2).cast("int").as("height"),
        element_at(col("features"), 3).cast("int").as("channels"))
      .orderBy(col("doc_id"))
  }

  // JPEG: the segment walker must SKIP a variable-length COM segment
  // (size a doc_id residue) to reach SOF0; frame-style chunk sampling
  // (64-byte frames, keep every 2nd) runs over the same blobs, so
  // n_frames pins the synthesized blob's exact byte length too.
  val q48 = sql(
    "q48_frame_sample",
    """WITH b AS (SELECT doc_id,
      |    CAST(octet_length(encode(text)) % 60000 + 1 AS INT) AS width,
      |    CAST(doc_id % 480 + 1 AS INT) AS height,
      |    CAST(doc_id % 3 + 1 AS INT) AS channels,
      |    doc_id % 30 + 2 AS com_len,
      |    octet_length(encode(text)) AS tlen
      |  FROM documents),
      |z AS (SELECT doc_id, 'jpeg' AS format, width, height, channels,
      |    14 + com_len + 3 * channels + tlen AS blob_len FROM b)
      |SELECT doc_id, format, width, height, channels,
      |  CAST((CAST(ceil(blob_len / 64.0) AS BIGINT) + 1) // 2 AS BIGINT) AS n_frames
      |FROM z ORDER BY doc_id""".stripMargin) { (s, d) =>
    import s.implicits._
    // both join branches consume the synthesized blobs — cached so the
    // encode pass runs once, released once the result materializes
    Pins { p =>
      val blobs = p.cache(Tables.documents(s, d).select(col("doc_id"), col("text"))
        .as[(Long, String)]
        .mapPartitions(_.map { case (id, text) =>
          val tb = text.getBytes("UTF-8")
          (id, Multimodal.jpegBytes(tb.length % 60000 + 1, (id % 480 + 1).toInt,
            (id % 3 + 1).toInt, (id % 30 + 2).toInt, tb))
        }).toDF("doc_id", "payload"))
      val meta = Multimodal.imageMeta(s, blobs)
      val frames = Multimodal.sampleFrames(s, blobs, 64, 2)
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n_frames"))
      meta.join(frames, "doc_id")
        .select(col("doc_id"), col("format"), col("width"), col("height"),
          col("channels"), col("n_frames"))
        .orderBy(col("doc_id"))
        .localCheckpoint()
    }
  }

  val all: Seq[QueryDef] = Seq(q47, q48)
}
