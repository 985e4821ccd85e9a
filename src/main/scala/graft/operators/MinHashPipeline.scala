package graft.operators

import graft.functions.{Hashes, Texts}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Shared MinHash signature pipeline (portable md5 permutation family) —
  * the explode → codegen'd hash → grouped-min shape used by both the LSH
  * dedup query and the ingest dedup gate. See DedupQueries for why this
  * is explode-based rather than nested higher-order functions.
  */
object MinHashPipeline {

  /** Signature frame: (idCol, sig array<long>) from a text expression.
    * Text is cleaned and truncated to `maxWords` words before k=5 char
    * shingling (reference truncation heuristics, SURVEY §4 "input
    * truncation").
    *
    * NULL-TEXT CONTRACT (r22, pinning the r21 ADVICE finding): a
    * null-text row surfaces as (id, null sig) — exactly what the DuckDB
    * oracle mirror ([[signaturesSql]]: list_transform over null → null)
    * computes, so this is the oracle-graded semantics. The retired
    * explode form kept the row too but rendered the signature as an
    * array of 16 null minima; NgramSpec pins both shapes. */
  def signatures(df: DataFrame, idCol: String, text: Column,
      numPerms: Int = 16, maxWords: Int = 24): DataFrame = {
    // r21 (guide §4): the signature is ONE compiled per-row pass
    // (portable_minhash_sig) — value-identical to the former explode →
    // md5Long → %P → grouped-min pipeline (kept in test scope as
    // ParityReferences.signaturesExplode; NgramSpec pins bit-equality on
    // the real corpus), with no shingle Generate, no hex/conv parse per
    // shingle, and no keyed aggregation: the signature build now
    // touches ZERO shuffles at any corpus size — strictly better than
    // the explode shape's one keyed partial-min exchange.
    df.select(col(idCol),
      graft.plans.Native.portable_minhash_sig(
        Texts.smartShorten(Texts.cleanText(text), maxWords), numPerms)
        .as("sig"))
  }

  /** The DuckDB mirror of [[signatures]] as a CTE body: given a source
    * relation exposing (<id>, <textExpr>), emits SQL producing
    * (<id>, sig). Kept here so every oracle derives from one template. */
  def signaturesSql(sourceRel: String, id: String, textExpr: String,
      numPerms: Int = 16, maxWords: Int = 24): String = {
    val clean =
      raw"""lower(trim(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
         |$textExpr, '<[^>]*>', ' ', 'g'), '\.\.\.+', '.', 'g'),
         |'([.]|,|;|:|!|\?)[.,;:!?]+', '.', 'g'), '\s+', ' ', 'g')))""".stripMargin
    s"""SELECT $id,
       |  list_transform(generate_series(0, ${numPerms - 1}), p ->
       |    list_min(list_transform(hashes, h ->
       |      ((2654435761 * (p+1) % 2147483647) * h
       |       + (40503 * (p+7) % 2147483647)) % 2147483647))) AS sig
       |FROM (
       |  SELECT $id,
       |    -- length (CHARACTERS), not strlen (BYTES) — the engine's
       |    -- shingle window is Spark length(); strlen diverged the
       |    -- window count on any multibyte text (r20 review)
       |    list_transform(generate_series(1, greatest(length(ct) - 4, 1)),
       |      i -> ('0x' || substr(md5(substr(ct, i, 5)), 1, 15))::BIGINT
       |           % 2147483647) AS hashes
       |  FROM (SELECT $id,
       |          array_to_string((string_split($clean, ' '))[1:$maxWords], ' ') AS ct
       |        FROM $sourceRel) c) h""".stripMargin
  }
}
