package graftbench

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.pipeline.{Curation, Decontamination, Dedup, Sampling, TextAnalysis}
import graft.pipeline.TextFunctions.tokens

/** The curation phase: `Curation.e2e` with its defaults over a
  * generated corpus with planted exact and near re-crawls; the first 20
  * documents are the decontamination bench set. */
final class CuratePhase(ctx: Ctx, sz: Sizes.Curate) {
  import ctx.spark

  private var corpus: Corpus.Generated = _
  private var train: DataFrame = _
  private var bench: DataFrame = _
  private var reference: Option[(Int, Long)] = None
  private var lastOutputIds: Set[Long] = Set.empty

  /** Input preparation: generate the corpus and land it as parquet. */
  def prepare(rep: Int): Unit = {
    val g = Corpus.generate(ctx.seed, sz.docs, sz.plantedPermille)
    val path = s"${ctx.work}/curate_corpus_$rep"
    spark.createDataFrame(g.docs).repartition(ctx.cpus)
      .write.mode("overwrite").parquet(path)
    corpus = g
    train = spark.read.parquet(path)
    bench = train.filter(col("doc_id") < 20).select("doc_id", "text")
  }

  def inputDocs: Int = corpus.docs.size

  /** One curation pass; `timed` passes feed curate.docs_per_s. */
  def pass(timed: Boolean): Unit = {
    val t0 = Clock.nowMs
    ctx.op("graft.pipeline", "curate_pass", "pass", Map("timed" -> timed)) {
      Curation.e2e(train, bench).collect()
    }.foreach { rows =>
      val secs = (Clock.nowMs - t0) / 1000.0
      if (timed) ctx.sample("curate.pass_s", secs)
      checkOutput(rows)
    }
  }

  private def checkOutput(rows: Array[Row]): Unit = {
    val ids = rows.map(_.getAs[Long]("doc_id"))
    lastOutputIds = ids.toSet
    ctx.check("curate.unique_ids", ids.distinct.length == ids.length,
      s"${ids.length - ids.distinct.length} duplicate doc_ids")
    val planted = ids.filter(corpus.exactCopyIds)
    ctx.check("curate.no_exact_copy", planted.isEmpty,
      s"planted exact copies survived: ${planted.take(5).mkString(",")}")
    val h = rows.iterator.map(r => scala.util.hashing.MurmurHash3.seqHash(r.toSeq).toLong).sum
    val sig = (rows.length, h)
    reference match {
      case None => reference = Some(sig)
      case Some(ref) => ctx.check("curate.output_stable", ref == sig,
        s"pass output (rows, hash) $sig differs from first pass $ref")
    }
    ctx.check("curate.nonempty", rows.nonEmpty, "no document survived")
  }

  /** Traced run only: each funnel stage's public function on that
    * stage's input, timed with its materialization, plus rows out.
    *
    * The quality gate, the exact-dedup stage, the per-source cap and the
    * mix have no public function of their own: they are copied from
    * `Curation.e2e` (src/main/scala/graft/pipeline/Curation.scala, its
    * steps 1, 3, 6 and 7) with e2e's default arguments. The check
    * `curate.stages_match_e2e` fails the run when the copy drifts from
    * e2e: the pack stage's doc_ids must be those of the last e2e pass. */
  def stages(): Unit = {
    def stage(name: String)(body: => DataFrame): DataFrame = {
      val t0 = Clock.nowMs
      val out = ctx.op("graft.pipeline", s"stage_$name", "stage") {
        body.localCheckpoint(true)
      }.getOrElse(spark.emptyDataFrame)
      ctx.values(s"pipeline.$name.s") = (Clock.nowMs - t0) / 1000.0
      ctx.values(s"pipeline.$name.rows_out") = out.count()
      out
    }
    val q = train
      .withColumn("__nt", size(tokens(col("text"))).cast("long"))
      .withColumn("__mtl", try_divide(length(col("text")).cast("double"),
        col("__nt").cast("double")))
      .filter(col("__nt") >= 20 && col("__mtl") <= 12.0)
      .drop("__nt", "__mtl")
    val cleaned = stage("boilerplate") {
      TextAnalysis.boilerplateRemoval(q, 2, 15).select(col("doc_id"), col("clean_text"))
    }
    val exact = stage("exact") {
      val keep = cleaned.groupBy(md5(col("clean_text")).as("__ck"))
        .agg(min(col("doc_id")).as("doc_id")).select("doc_id")
      cleaned.join(keep, Seq("doc_id"), "left_semi")
    }
    val exactIds = exact.select("doc_id").collect().map(_.getLong(0))
    ctx.check("curate.exact_stage_drops_copies", !exactIds.exists(corpus.exactCopyIds),
      "a planted exact copy survived the exact-dedup stage")
    val near = stage("neardup") {
      val pairs = Dedup.minhashPairs(
        exact.select(col("doc_id"), col("clean_text").as("text")),
        shingleN = 3, k = 64, bands = 32, threshold = 0.7)
      exact.join(pairs.select(col("id_b").as("doc_id")).distinct(),
        Seq("doc_id"), "left_anti")
    }
    val decon = stage("decontam") {
      val dirty = Decontamination.contaminated(
        near.select(col("doc_id"), col("clean_text").as("text")), bench,
        n = 3, minHits = 1)
      near.join(dirty.select("doc_id"), Seq("doc_id"), "left_anti")
    }
    // the domain cap and mix of Curation.e2e, untimed: they only shape
    // the pack stage's input
    val w = Window.partitionBy("source").orderBy(col("n_chars").desc, col("doc_id"))
    val capped = train.join(decon.select("doc_id"), Seq("doc_id"), "left_semi")
      .select("doc_id", "lang", "source", "n_chars")
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= 10).drop("__rn")
    val mixed = Sampling.mixCorpora(Seq(("en_heavy", "en", 800),
      ("de_half", "de", 500), ("fr_light", "fr", 200)).map {
        case (label, lang, permille) => (label, capped.filter(col("lang") === lang), permille)
      }, "doc_id")
    val packed = stage("pack") {
      TextAnalysis.packSequences(
        mixed.select("doc_id").join(decon, "doc_id")
          .select(col("doc_id"), col("clean_text").as("text")), 64, 8)
    }
    val packedIds = packed.select("doc_id").collect().map(_.getLong(0)).toSet
    ctx.check("curate.stages_match_e2e", packedIds == lastOutputIds,
      s"pack stage kept ${packedIds.size} docs, Curation.e2e ${lastOutputIds.size}; " +
        s"only in the stages: ${(packedIds -- lastOutputIds).take(5).mkString(",")}; " +
        s"only in e2e: ${(lastOutputIds -- packedIds).take(5).mkString(",")}")
  }
}
