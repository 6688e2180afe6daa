package graft.ner

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Per-language model registry — the Spark-native form of the reference's
 * multilingual routing (NeuralNERYang/models/modules.py:89-209 routes by
 * languageId; we hold a `Map[lang -> LangModel]` and route rows by the
 * `lang` column, exactly the N12 mapping in SURVEY.md §2.9).
 *
 * Vocabularies are built distributedly with reference semantics:
 *  - word vocab comes from the embedding dictionary in file order
 *    (NeuralNER.py:155-158), lowercased, `<unk>` appended;
 *  - char vocab is seeded with `<S>`, `</S>` (NeuralNER.py:171-173) then
 *    characters in first-occurrence corpus order (utilsLocal.py:138-140) —
 *    realized as `min(position key)` ordering, which equals the sequential
 *    scan order and is partition-count invariant. The position key is the
 *    (url, sentIdx, tokIdx, charIdx) tuple, aggregated distributedly (no
 *    global row_number — that would serialize the corpus through one task);
 *  - tag vocab is fixed IOBES over {PER, LOC, ORG, MISC} (lowercased in the
 *    vocab, uppercased on output, vocab.py:71 / NeuralNER.py:331).
 */
object Models {

  final case class LangModel(
      lang: String,
      inputVocab: Vocab,
      charVocab: Vocab,
      tagVocab: Vocab,
      weights: Kernel.NerWeights
  ) extends Serializable

  val tagStrings: Vector[String] = {
    val types = Vector("PER", "LOC", "ORG", "MISC")
    Vector("O") ++ types.flatMap(t => Vector(s"B-$t", s"I-$t", s"E-$t", s"S-$t"))
  }

  def tagVocab(): Vocab = {
    val v = new Vocab(caseSensitive = false) // lowercases, like reference tag Vocab
    tagStrings.foreach(v.add)
    v.freeze()
    v
  }

  /** Tokens with a lexicographically ordered position key: only the agg
    * (vocab-sized) output is ever sorted or collected. One pass for ALL
    * languages (lang is just another grouping column). */
  private def positionedTokens(sentences: Dataset[graft.core.Sentence]): DataFrame = {
    val spark = sentences.sparkSession
    import spark.implicits._
    sentences
      .flatMap(s => s.tokens.iterator.zipWithIndex.map { case (t, i) => (s.lang, s.url, s.sentIdx, i, t) })
      .toDF("lang", "url", "sentIdx", "tokIdx", "tok")
  }

  /** First-occurrence-ordered characters per language, one distributed agg. */
  private def charOrderByLang(positioned: DataFrame): Map[String, Seq[String]] = {
    val spark = positioned.sparkSession
    import spark.implicits._
    positioned
      .select($"lang", $"url", $"sentIdx", $"tokIdx",
        posexplode(udfCps($"tok")).as(Seq("charIdx", "ch")))
      .groupBy($"lang", $"ch")
      .agg(min(struct($"url", $"sentIdx", $"tokIdx", $"charIdx")).as("first"))
      .orderBy($"lang", $"first", $"ch")
      .select($"lang", $"ch").as[(String, String)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap
  }

  /** First-occurrence-ordered distinct lowercased tokens per language. */
  private def wordOrderByLang(positioned: DataFrame): Map[String, Seq[String]] = {
    val spark = positioned.sparkSession
    import spark.implicits._
    positioned
      .select($"lang", struct($"url", $"sentIdx", $"tokIdx").as("pos"), lower($"tok").as("tok"))
      .groupBy($"lang", $"tok").agg(min($"pos").as("first"))
      .orderBy($"lang", $"first", $"tok")
      .select($"lang", $"tok").as[(String, String)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap
  }

  private val udfCps = udf { (tok: String) => graft.text.TextExtract.codePoints(tok) }

  /**
   * Build a deterministic model registry for the given languages from a
   * corpus of sentences. The weights are seed-fixed synthetic stand-ins for
   * trained checkpoints (no trained torch artifact can be loaded offline);
   * every piece of the serving path — vocab build, embedding matrix shape,
   * kernel math, routing — is the production code path.
   */
  /**
   * Multilingual sharing variants (N12) — the reference's three schemes,
   * expressed as different sharings inside the broadcast registry:
   *
   *  - Yang (NeuralNERYang/models/modules.py:72-83): per-language word
   *    embeddings / BiLSTM / output, SHARED char-CNN — `buildYang` rebinds
   *    every language's convW/convB to the first language's arrays;
   *  - AllShared (NeuralNERAllShared/models/modules.py:52): one network and
   *    tag space for every language — `buildAllShared` maps all langs (and
   *    the "*" fallback) to a single LangModel;
   *  - AllShared-NoOutput (models/modules.py:252,278-284): shared encoder,
   *    per-language output layer — `buildSharedEncoder` shares everything
   *    except `outW`.
   *
   * Sharing is by array reference: one broadcast ships one copy of each
   * shared matrix regardless of language count.
   */
  def buildYang(spark: SparkSession, sentences: Dataset[graft.core.Sentence],
                embedDim: Int = 32, numFilters: Int = 8, minWidth: Int = 3,
                maxWidth: Int = 5, hidden: Int = 32, seed: Long = 42L,
                tagVocabs: Map[String, Vocab] = Map.empty): Map[String, LangModel] = {
    val perLang = build(spark, sentences, embedDim, numFilters, minWidth, maxWidth, hidden, seed, tagVocabs)
    if (perLang.isEmpty) return perLang
    // shared char-CNN requires one shared char vocab: take the union model
    // of the alphabetically-first language as the shared module holder
    val first = perLang(perLang.keys.min)
    perLang.map { case (lg, m) =>
      lg -> m.copy(
        charVocab = first.charVocab,
        weights = m.weights.copy(
          charVocabSize = first.weights.charVocabSize,
          convW = first.weights.convW,
          convB = first.weights.convB))
    }
  }

  def buildAllShared(spark: SparkSession, sentences: Dataset[graft.core.Sentence],
                     embedDim: Int = 32, numFilters: Int = 8, minWidth: Int = 3,
                     maxWidth: Int = 5, hidden: Int = 32, seed: Long = 42L): Map[String, LangModel] = {
    import spark.implicits._
    val shared = build(spark,
      sentences.map(_.copy(lang = "*")), embedDim, numFilters, minWidth, maxWidth, hidden, seed)("*")
    val langs = sentences.select($"lang").distinct().as[String].collect()
    (langs.map(_ -> shared) :+ ("*" -> shared)).toMap
  }

  def buildSharedEncoder(spark: SparkSession, sentences: Dataset[graft.core.Sentence],
                         embedDim: Int = 32, numFilters: Int = 8, minWidth: Int = 3,
                         maxWidth: Int = 5, hidden: Int = 32, seed: Long = 42L,
                         tagVocabs: Map[String, Vocab] = Map.empty): Map[String, LangModel] = {
    import spark.implicits._
    val all = buildAllShared(spark, sentences, embedDim, numFilters, minWidth, maxWidth, hidden, seed)
    all.map { case (lg, m) =>
      if (lg == "*") lg -> m
      else {
        // per-language output head over the SHARED encoder — including a
        // per-language TAG SPACE when provided (AllShared-NoOutput keeps
        // per-language tag vocabs, modules.py:278-284,333-364): the head's
        // row count and prev-tag columns are sized to that language's vocab
        val tv = tagVocabs.getOrElse(lg, m.tagVocab)
        lg -> m.copy(
          tagVocab = tv,
          weights = m.weights.copy(
            tagCount = tv.size,
            outW = Kernel.randomWeights(embedDim, minWidth, maxWidth, numFilters, hidden,
              m.weights.charVocabSize, tv.size, m.weights.embeddings,
              seed ^ Embeddings.fnv1a("head:" + lg)).outW))
      }
    }
  }

  def build(spark: SparkSession, sentences: Dataset[graft.core.Sentence],
            embedDim: Int = 32, numFilters: Int = 8, minWidth: Int = 3,
            maxWidth: Int = 5, hidden: Int = 32, seed: Long = 42L,
            tagVocabs: Map[String, Vocab] = Map.empty): Map[String, LangModel] = {
    val sharedTv = tagVocab()
    val positioned = positionedTokens(sentences).persist()
    try {
      val charOrders = charOrderByLang(positioned)
      val wordOrders = wordOrderByLang(positioned)
      charOrders.keys.toSeq.sorted.map { lg =>
        // per-language tag space when provided (Yang's aux tag vocab,
        // NeuralNERYang/NeuralNERYang.py:63-64,106,157; NoOutput's
        // per-language tag vocabs, NeuralNERAllShared/models/modules.py:278-284);
        // the fixed IOBES vocab otherwise — the output layer is sized to it
        val tv = tagVocabs.getOrElse(lg, sharedTv)
        val charV = Vocab.newCharVocab()
        charOrders(lg).foreach(charV.add)
        charV.freeze()
        val lines = Embeddings.syntheticLines(wordOrders(lg).toIndexedSeq, embedDim,
          seed ^ Embeddings.fnv1a(lg))
        val loaded = Embeddings.fromLines(lines.iterator)
        val inputV = Embeddings.toInputVocab(loaded)
        val w = Kernel.randomWeights(embedDim, minWidth, maxWidth, numFilters, hidden,
          charV.size, tv.size, loaded.matrix, seed ^ Embeddings.fnv1a("weights:" + lg))
        lg -> LangModel(lg, inputV, charV, tv, w)
      }.toMap
    } finally positioned.unpersist()
  }
}
