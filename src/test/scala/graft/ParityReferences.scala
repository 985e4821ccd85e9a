package graft

import graft.functions.{Hashes, Texts}
import graft.operators.Multimodal.{phashSrc, resize}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Parity references: the declarative forms that compiled natives
  * replaced in the library, kept verbatim as the readable statement of
  * each native's semantics and as the other side of its equivalence
  * test (NgramSpec, MultimodalSpec). Nothing in the library calls them.
  */
object ParityReferences {

  /** The explode + grouped-min statement of
    * [[graft.operators.MinHashPipeline.signatures]] — the
    * readable form the DuckDB mirror restates, retained as the parity
    * reference (NgramSpec) for the compiled per-row pass. */
  def signaturesExplode(df: DataFrame, idCol: String,
      text: Column, numPerms: Int = 16, maxWords: Int = 24): DataFrame = {
    val P = Hashes.MinHashPrime
    val cleaned = df.select(col(idCol),
      Texts.smartShorten(Texts.cleanText(text), maxWords).as("ct"))
    val hashed = cleaned
      .select(col(idCol), col("ct"),
        explode(sequence(lit(1), greatest(length(col("ct")) - 4, lit(1))))
          .as("i"))
      .select(col(idCol),
        (Texts.md5Long(col("ct").substr(col("i"), lit(5))) % P).as("h"))
    val permAggs = (0 until numPerms).map { i =>
      val a = (2654435761L * (i + 1)) % P
      val b = (40503L * (i + 7)) % P
      min((lit(a) * col("h") + lit(b)) % P).as(s"s$i")
    }
    hashed.groupBy(idCol)
      .agg(permAggs.head, permAggs.tail: _*)
      .select(col(idCol),
        array((0 until numPerms).map(i => col(s"s$i")): _*).as("sig"))
  }

  /** The declarative HOF form [[graft.functions.Hashes.bands]] compiled
    * away — kept as the
    * equivalence-test reference (NgramSpec) and the readable statement
    * of the banding semantics. */
  def bandsHof(sig: Column, numBands: Int,
      rowsPerBand: Int): Column =
    transform(sequence(lit(0), lit(numBands - 1)),
      b => struct(b.as("band_id"),
        array_join(slice(sig, b * rowsPerBand + 1, lit(rowsPerBand)), "_")
          .as("band_key")))

  /** The declarative resize→hex→conv dHash chain
    * [[graft.operators.Multimodal.phashBands]]
    * compiled away — kept as the equivalence-test reference
    * (MultimodalSpec) and the readable statement of the semantics. */
  def phashBandsDeclarative(s: SparkSession,
      d: String): DataFrame = {
    val rs = resize(phashSrc(s, d), 9, 8)
      .select(col("doc_id"), upper(hex(col("resized"))).as("h"))
    def px(i: Int) = conv(substring(col("h"), 2 * i + 1, 2), 16, 10)
      .cast("long")
    def band(b: Int) = (0 until 16).map { j =>
      val k = b * 16 + j
      val (r, c) = (k / 8, k % 8)
      when(px(r * 9 + c) < px(r * 9 + c + 1), lit(1L << j))
        .otherwise(lit(0L))
    }.reduce(_ + _)
    rs.select(col("doc_id"),
        array((0 until 4).map(b => band(b)): _*).as("bs"))
      .select(col("doc_id"),
        (col("bs")(0) + shiftleft(col("bs")(1), 16) +
          shiftleft(col("bs")(2), 32) + shiftleft(col("bs")(3), 48))
          .as("h64"),
        posexplode(col("bs")).as(Seq("band_id", "band_val")))
  }
}
