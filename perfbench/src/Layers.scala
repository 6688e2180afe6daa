package graft.perfbench

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Pipeline
import graft.canon.ConnectedComponents
import graft.core.{Sentence, TableIO}
import graft.kg.Triples
import graft.link.EntityLink
import graft.ner.{Kernel, Models, NerStage}
import graft.ops.{Dedup, TextStats}
import graft.text.TextExtract

/**
 * The traced breakdowns: each pipeline's layer boundaries called in the
 * program's own order through public functions, each boundary materialized
 * in turn inside its own span. Metrics are (name, value, unit).
 */
final class Layers(spark: SparkSession, trace: Trace, in: Inputs) {
  type Metric = (String, Double, String)

  private def timedSpan[A](name: String)(body: => A): (A, Double) = {
    val (r, s) = trace.span(name)(body)
    (r, s.seconds)
  }

  /** kg_build's boundaries on the kg_build input: sentences, NER tagging,
    * raw triples, linking (broadcast and salted), canonical map, canonical
    * triples and the resumable write. */
  def kgBuild(): Seq[Metric] = {
    val sc = spark.sparkContext
    val dir = in.kgDir
    if (!Files.exists(Paths.get(dir))) in.writeKg()
    val dict = Pipeline.aliasDict(spark, dir)
    dict.count()
    val bcModels = sc.broadcast(Pipeline.models(spark, dir))
    val lex = sc.broadcast(NerStage.defaultPredicateLexicon)
    val parts = math.max(sc.defaultParallelism * 2, 4)
    val tokens = sc.longAccumulator("perfbench.tokens")
    val oov = sc.longAccumulator("perfbench.oov")
    val out = in.freshOutput("layers-kg")

    val (metrics, _) = trace.span("kg_build.layers") {
      val ((sents, nSents), sentS) = timedSpan("text.sentences") {
        val s = NerStage.saltedRepartition(
          NerStage.sentences(Pipeline.pages(spark, dir)), parts, parts).persist()
        (s, s.count())
      }
      val ((tagged, _), tagS) = timedSpan("ner.tag") {
        val t = NerStage.tag(sents, bcModels, tokenCounter = Some(tokens),
          oovCounter = Some(oov)).persist()
        (t, t.count())
      }
      val ((raw, _), rawS) = timedSpan("ner.raw_triples") {
        val r = NerStage.rawTriples(tagged, lex).persist()
        (r, r.count())
      }
      val mentions = NerStage.mentions(tagged).persist()
      val nMentions = mentions.count()
      val (nLinked, bcastS) = timedSpan("link.broadcast")(
        EntityLink.linkBroadcast(mentions, dict).count())
      val (_, saltedS) = timedSpan("link.salted")(EntityLink.linkSalted(mentions, dict).count())
      val ((canon, _), canonS) = timedSpan("canon.components") {
        val c = ConnectedComponents.run(Triples.aliasEdges(dict)).persist()
        (c, c.count())
      }
      val ((triples, nTriples), triplesS) = timedSpan("kg.canonical_triples") {
        val t = Triples.canonicalTriples(raw, dict, canon).persist()
        (t, t.count())
      }
      val (_, writeS) = timedSpan("core.write")(TableIO.writeResumable(triples.toDF(), out, "lang"))
      val bytes = Files.walk(Paths.get(out)).iterator().asScala
        .filter(Files.isRegularFile(_)).map(Files.size(_)).sum
      Seq(sents, tagged, raw, mentions, canon, triples).foreach(_.unpersist())
      Seq[Metric](
        ("text.sentences_s", sentS, "s"), ("text.sentences", nSents.toDouble, "count"),
        ("ner.tag_s", tagS, "s"), ("ner.tokens", tokens.value.toDouble, "count"),
        ("ner.tag_ns_per_token", tagS * 1e9 / math.max(1L, tokens.value), "ns/token"),
        ("ner.raw_triples_s", rawS, "s"), ("ner.mentions", nMentions.toDouble, "count"),
        ("link.broadcast_s", bcastS, "s"),
        ("link.linked_ratio", nLinked.toDouble / math.max(1L, nMentions), "ratio"),
        ("link.salted_s", saltedS, "s"), ("canon.components_s", canonS, "s"),
        ("kg.canonical_triples_s", triplesS, "s"), ("kg.triples", nTriples.toDouble, "count"),
        ("core.write_s", writeS, "s"), ("core.bytes_written", bytes.toDouble, "bytes"))
    }
    in.delete(out)
    metrics
  }

  /** The NER kernel on one thread, by direct calls to the `Kernel`
    * functions over kg_build sentences: at the serving config (the models
    * the pipeline uses) and, as `.ref`, at the reference sizes (embed 300,
    * filters 35, widths 3-7, hidden 200). */
  def kernels(): Seq[Metric] = {
    val sample = NerStage.sentences(Pipeline.pages(spark, in.kgDir))
      .limit(KernelSentences).collect().toSeq
    val serving = Pipeline.models(spark, in.kgDir)
    // the kernels' cost per token does not depend on the vocabulary, so the
    // reference-size models are built over the sample alone
    val refSample = sample.take(KernelSentencesRef)
    val reference = Models.build(spark, spark.createDataset(refSample)(
      org.apache.spark.sql.Encoders.product[Sentence]),
      embedDim = 300, numFilters = 35, minWidth = 3, maxWidth = 7, hidden = 200)
    trace.span("ner.kernel") {
      kernelPass("", serving, sample) ++
        kernelPass(".ref", reference, refSample)
    }._1
  }

  private val KernelSentences = 1000
  private val KernelSentencesRef = 100

  private def kernelPass(suffix: String, models: Map[String, Models.LangModel],
                         sentences: Seq[Sentence]): Seq[Metric] = {
    val byLang = sentences.filter(_.tokens.nonEmpty).groupBy(_.lang).toSeq.map { case (lang, ss) =>
      val m = models.getOrElse(lang, models.getOrElse("*", models.head._2))
      val enc = ss.map { s =>
        val toks = s.tokens.toIndexedSeq
        Kernel.Encoded(toks, toks.map(m.inputVocab.getWordTrain).toArray,
          toks.map(TextExtract.codePoints).toArray)
      }.toArray
      (m, enc)
    }
    val nTokens = byLang.map(_._2.map(_.tokens.length).sum).sum.toDouble

    def perToken(name: String)(body: => Unit): Double =
      trace.span(s"ner.kernel.$name$suffix")(Main.median(Seq.fill(3) {
        Main.timed(body)._2
      }))._1 * 1e9 / nTokens

    val charCnn = perToken("char_cnn") {
      byLang.foreach { case (m, enc) =>
        val w = m.weights
        enc.foreach { e =>
          val cMax = math.max(e.cps.map(_.length).max, w.maxWidth)
          val row = new Array[Float](w.inputDim)
          e.cps.foreach(cp => Kernel.charCnn(Kernel.charBits(cp, m.charVocab, cMax), cMax, w, row, 0))
        }
      }
    }
    var hidden: Seq[(Models.LangModel, Array[Array[Array[Float]]])] = Nil
    val encodeAll = perToken("bilstm_batch") {
      hidden = byLang.map { case (m, enc) =>
        (m, enc.grouped(NerStage.microBatchSize)
          .flatMap(b => Kernel.bilstmStatesBatch(b, m.charVocab, m.weights)).toArray)
      }
    }
    val greedy = perToken("greedy")(hidden.foreach { case (m, hs) =>
      hs.foreach(Kernel.greedyDecode(_, m.weights)) })
    val viterbi = perToken("viterbi")(hidden.foreach { case (m, hs) =>
      hs.foreach(Kernel.viterbiDecode(_, m.weights)) })
    Seq[Metric](
      (s"ner.kernel.char_cnn_ns_per_token$suffix", charCnn, "ns/token"),
      // the batched encoder runs the char-CNN too; its self time is the BiLSTM
      (s"ner.kernel.bilstm_ns_per_token$suffix", encodeAll - charCnn, "ns/token"),
      (s"ner.kernel.greedy_ns_per_token$suffix", greedy, "ns/token"),
      (s"ner.kernel.viterbi_ns_per_token$suffix", viterbi, "ns/token"))
  }

  /** curation's stages on the curation input, called in `Curation`'s own
    * order, each stage materialized as Curation materializes it. The stage
    * counts must equal `expected`, the curation operations' `Report`, when
    * the run has one. */
  def curation(expected: Option[graft.Curation.Report]): (Seq[Metric], Seq[String]) = {
    if (!Files.exists(Paths.get(in.curationDir))) in.writeCuration()
    val out = in.freshOutput("layers-curation")
    val ((metrics, counts), _) = trace.span("curation.layers") {
      val docs = spark.read.parquet(s"${in.curationDir}/documents.parquet").localCheckpoint()
      val nDocs = docs.count()
      def stage(name: String)(df: => DataFrame): (DataFrame, Long, Double) = {
        val ((d, n), s) = timedSpan(s"ops.$name") {
          val d = df.localCheckpoint()
          (d, d.count())
        }
        (d, n, s)
      }
      val (quality, nQ, qS) = stage("quality")(docs.filter(TextStats.keepPredicate(col("text"))))
      val (exact, nE, eS) = stage("exact_dedup")(quality.join(
        Dedup.exact(quality).select(col("keep_id").as("doc_id")), Seq("doc_id")))
      val (near, nN, nS) = stage("near_dedup")(exact.join(
        Dedup.dedupClusters(exact).filter(col("doc_id") === col("keep_id"))
          .select(col("doc_id")), Seq("doc_id")))
      val holdout = docs.filter(pmod(col("doc_id"), lit(97)) === 0)
      val (clean, nC, cS) = stage("decontam")(near.join(
        Dedup.decontaminate(near, holdout, k = 8).filter(!col("contaminated"))
          .select(col("doc_id")), Seq("doc_id")))
      val (unrep, nR, rS) = stage("repetition")(
        clean.filter(!TextStats.repetitivePredicate(col("text"))))
      val ((annotated, _), aS) = timedSpan("ops.annotate_pack") {
        val rarity = TextStats.lmRarity(unrep).select(col("doc_id"), col("lm_logprob"))
        val packed = TextStats.packByTokenBudget(unrep, 512L)
          .select(col("doc_id"), col("n_tokens"), col("bucket"), col("pack_id"))
        val a = unrep.select(col("doc_id"), col("lang"), col("source"),
            TextStats.redactedText(col("text")).as("text"))
          .join(packed, Seq("doc_id")).join(rarity, Seq("doc_id")).persist()
        (a, a.count())
      }
      val (_, wS) = timedSpan("core.curation_write")(TableIO.writeResumable(annotated, out, "lang"))
      annotated.unpersist()
      def ratio(a: Long, b: Long) = a.toDouble / math.max(1L, b)
      (Seq[Metric](
        ("ops.quality_s", qS, "s"), ("ops.exact_dedup_s", eS, "s"),
        ("ops.near_dedup_s", nS, "s"), ("ops.decontam_s", cS, "s"),
        ("ops.repetition_s", rS, "s"), ("ops.annotate_pack_s", aS, "s"),
        ("core.curation_write_s", wS, "s"),
        ("ops.keep_ratio.quality", ratio(nQ, nDocs), "ratio"),
        ("ops.keep_ratio.exact_dedup", ratio(nE, nQ), "ratio"),
        ("ops.keep_ratio.near_dedup", ratio(nN, nE), "ratio"),
        ("ops.keep_ratio.decontam", ratio(nC, nN), "ratio"),
        ("ops.keep_ratio.repetition", ratio(nR, nC), "ratio")),
        Seq(nDocs, nQ, nE, nN, nC, nR))
    }
    in.delete(out)
    val problems = expected.map(r => Seq(r.docsIn, r.afterQuality, r.afterExact,
        r.afterNearDup, r.afterDecontam, r.afterRepetition))
      .filter(_ != counts)
      .map(e => s"curation layer counts $counts differ from the operations' $e").toSeq
    (metrics, problems)
  }
}
