package graft.ir

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * Deterministic test inputs (FIXTURES.md). No external data, no wall-clock,
 * no java.util.Random default seeding — a splittable counter PRNG keyed on
 * (seed, conv, turn, slot) so fixtures are identical at any parallelism.
 */
object Fixtures {

  private val Epoch = 1577836800000L // 2020-01-01T00:00:00Z

  /** The reference's 4-doc lecture corpus
    * (`/root/reference/IR_server/Resources/Corpus/tp2_2/doc1..doc4`, one term
    * per line) embedded as 4 single-conversation transcripts, one turn per
    * source line (FIXTURES.md §2). */
  val tp2: Seq[(String, Seq[String])] = Seq(
    "c0001" -> Seq("software", "libre", "papel", "fundamental", "crecimiento",
      "software", "internet", "favorecido", "comunicacion", "desarrolladores",
      "internet"),
    "c0002" -> Seq("libre", "riqueza", "pais", "cultura"),
    "c0003" -> Seq("software", "fundamental", "comunicacion", "pais",
      "produccion", "produccion", "tecnologia", "hardware"),
    "c0004" -> Seq("software", "libre", "fundamental", "crecimiento", "pais",
      "cultura", "incorpore", "estado", "software", "libre"))

  /** The 13 reference bot queries
    * (`/root/reference/IR_client/src/View/InitClient.java:124-138`). */
  val referenceQueries: Seq[String] = Seq(
    "primera consulta",
    "universidad riqueza atletismo argentina estado nacion edificio comunicacion",
    "tecnologia",
    "pais",
    "estado libre",
    "pais libre",
    "perro libre finanzas religion estado morfologia",
    "tecnologia libre",
    "ultima consulta",
    "pais libre",
    "estado libre",
    "tecnologia",
    "pais")

  def tp2Corpus: Seq[(String, String)] = tp2.map { case (c, ts) => c -> ts.mkString(" ") }

  def tp2Turns(spark: SparkSession): DataFrame = {
    import spark.implicits._
    tp2.flatMap { case (conv, terms) =>
      terms.zipWithIndex.map { case (term, i) =>
        Turn(conv, i, "user", term, null, new Timestamp(Epoch + i * 60000L))
      }
    }.toDF()
  }

  /** Deterministic synthetic transcript table (FIXTURES.md §4) — delegates
    * to the main-source generator so Bench uses the identical corpus. */
  def synthTurns(spark: SparkSession, nConvs: Int, seed: Long = 42L): DataFrame =
    Synth.turns(spark, nConvs, seed)

  /** Assembled documents with doc_id = the dense rank of conv_id, the ids
    * IndexBuilder's doc_map assigns. */
  def docsWithIds(turns: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.col
    IndexBuilder.zipWithDenseIdCounted(
      IndexBuilder.assembleDocs(turns), Seq(col("conv_id")), "doc_id")
      .table.select(col("doc_id"), col("conv_id"), col("text"))
  }

  /** Oracle-side corpus matching synthTurns: conv → concatenated text. */
  def synthCorpus(spark: SparkSession, nConvs: Int, seed: Long = 42L): Seq[(String, String)] = {
    import org.apache.spark.sql.functions._
    IndexBuilder.assembleDocs(synthTurns(spark, nConvs, seed))
      .orderBy("conv_id")
      .collect()
      .map(r => (r.getString(0), r.getString(1)))
      .toSeq
  }
}
