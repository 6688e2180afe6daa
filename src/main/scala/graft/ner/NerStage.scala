package graft.ner

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions._
import org.apache.spark.util.CollectionAccumulator
import graft.core._
import graft.text.TextExtract

/** A tagged sentence — the unit handed from inference to span assembly /
  * triple extraction (all derivable without another inference pass).
  * `probs` carries per-token per-tag softmax probabilities when the tag
  * stage ran with `withProbs = true` (the reference's final-test output,
  * NeuralNER.py:325-333); empty otherwise so the common path ships no
  * dead weight through shuffles. */
final case class SentenceNer(
    url: String,
    lang: String,
    sentIdx: Int,
    tokens: Seq[String],
    preds: Seq[String],
    probs: Seq[Seq[Float]] = Nil
)

/** A surface-form triple emitted at tag time (entity ids attached later by
  * the linking stage — keeps the expensive NER pass single-shot). */
final case class RawTriple(
    url: String,
    lang: String,
    sentIdx: Int,
    subjSurface: String,
    pred: String,
    objSurface: String,
    subjType: String,
    objType: String
)

/**
 * Language-routed, micro-batched NER inference: the Spark realization of the
 * reference evaluation loop (NeuralNERMono/NeuralNER.py:314-335): for each
 * sentence -> constructBatch -> network.forward (batch size 1 semantics) ->
 * tagged tokens. Routing mirrors the multilingual variants' languageId
 * dispatch (NeuralNERYang/models/modules.py:89-209).
 *
 * Scale design:
 *  - `select` narrows to (url, lang, text) before any row-level work so the
 *    parquet scan never reads `html` (column pruning survives);
 *  - `repartition($"lang")` co-locates each language so one weight set is
 *    resident per task (with many langs this also spreads by hash; for a
 *    skewed lang mix use `repartition(n, $"lang", pmod(xxhash64($"url"), k))`
 *    — provided via `saltedRepartition`);
 *  - weights travel once per executor via Broadcast;
 *  - per-partition lineage rows + accumulator token counts (north_rule).
 */
object NerStage {

  /** pages -> sentences (narrow projection first; html never read). */
  def sentences(pages: Dataset[Page]): Dataset[Sentence] = {
    val spark = pages.sparkSession
    import spark.implicits._
    pages.select($"url", $"lang", $"text").as[(String, String, String)]
      .flatMap { case (url, lang, text) =>
        TextExtract.sentences(text).iterator.zipWithIndex.map { case (toks, i) =>
          Sentence(url, lang, i, toks)
        }
      }
  }

  /** Sentences straight from extracted html (the full extraction path —
    * used by the invariant check and by callers that start from raw WARC
    * bytes without a pre-extracted text column). */
  def sentencesFromHtml(pages: Dataset[Page]): Dataset[Sentence] = {
    val spark = pages.sparkSession
    import spark.implicits._
    pages.select($"url", $"lang", $"html").as[(String, String, Array[Byte])]
      .flatMap { case (url, lang, html) =>
        val text = TextExtract.extractText(html)
        TextExtract.sentences(text).iterator.zipWithIndex.map { case (toks, i) =>
          Sentence(url, lang, i, toks)
        }
      }
  }

  /** Spread a skewed language column over `buckets` hash buckets per lang. */
  def saltedRepartition(sents: Dataset[Sentence], partitions: Int, buckets: Int): Dataset[Sentence] = {
    val spark = sents.sparkSession
    import spark.implicits._
    sents.repartition(partitions, $"lang", pmod(xxhash64($"url"), lit(buckets)))
  }

  /** Tag every sentence. One inference pass; greedy (reference parity) or
    * Viterbi (`useViterbi = true`, the north_star improvement). */
  def tag(sents: Dataset[Sentence],
          bcModels: Broadcast[Map[String, Models.LangModel]],
          useViterbi: Boolean = false,
          lineage: Option[CollectionAccumulator[LineageRow]] = None,
          tokenCounter: Option[org.apache.spark.util.LongAccumulator] = None,
          oovCounter: Option[org.apache.spark.util.LongAccumulator] = None,
          withProbs: Boolean = false): Dataset[SentenceNer] = {
    val spark = sents.sparkSession
    import spark.implicits._
    sents.mapPartitions { iter =>
      val models = bcModels.value
      val pid = org.apache.spark.TaskContext.getPartitionId()
      val t0 = System.nanoTime()
      var rowsIn = 0L
      var rowsOut = 0L
      // micro-batch: group a window of sentences by language and run the
      // batched kernel once per (window, lang) — weights stream once per
      // batch, results are bit-identical to one-at-a-time (Kernel contract).
      val out = iter.grouped(microBatchSize).flatMap { window =>
        rowsIn += window.size
        window.groupBy(_.lang).toSeq.sortBy(_._1).iterator.flatMap { case (lang, group) =>
          val m = models.getOrElse(lang, models.getOrElse("*", models.head._2))
          // OOV metrics — the reference's totalWords/unknownWords counters
          // vs the embedding vocabulary (utilsLocal.py:168-170)
          (tokenCounter, oovCounter) match {
            case (Some(tc), Some(oc)) =>
              group.foreach { s =>
                tc.add(s.tokens.size)
                oc.add(s.tokens.count(t => m.inputVocab.getWord(t).isEmpty))
              }
            case _ => ()
          }
          val res = tagSentencesFull(group.map(_.tokens.toIndexedSeq), m, useViterbi,
            wantProbs = withProbs)
          rowsOut += group.size
          group.iterator.zip(res.iterator).map { case (s, (preds, probs)) =>
            SentenceNer(s.url, s.lang, s.sentIdx, s.tokens, preds,
              if (withProbs) probs else Nil)
          }
        }
      }
      lineage match {
        case Some(acc) =>
          // exhaust lazily but record exactly once on completion — Spark's
          // iterator wrappers commonly re-call hasNext after exhaustion
          new Iterator[SentenceNer] {
            private var recorded = false
            def hasNext: Boolean = {
              val h = out.hasNext
              if (!h && !recorded) {
                recorded = true
                acc.add(LineageRow("ner.tag", pid, rowsIn, rowsOut,
                  (System.nanoTime() - t0) / 1000000L, ""))
              }
              h
            }
            def next(): SentenceNer = out.next()
          }
        case None => out
      }
    }
  }

  /** Sentences per kernel micro-batch (bandwidth amortization only — any
    * value yields identical results). */
  val microBatchSize: Int = sys.env.getOrElse("SPARK_GRAFT_MICROBATCH", "64").toInt

  /** The per-sentence serving function: encode (word ids with lowercased
    * `<unk>` fallback, utilsLocal.py:318-324; code-point chars), BiLSTM,
    * decode, map tag ids to UPPERCASE tag strings (NeuralNER.py:331). */
  def tagSentence(tokens: IndexedSeq[String], m: Models.LangModel, useViterbi: Boolean): Seq[String] =
    tagSentences(Seq(tokens), m, useViterbi).head

  /** Batched serving function — one kernel invocation for K sentences of
    * one language. Per-sentence results are independent of K. */
  def tagSentences(sentences: Seq[IndexedSeq[String]], m: Models.LangModel,
                   useViterbi: Boolean): Seq[Seq[String]] =
    tagSentencesFull(sentences, m, useViterbi).map(_._1)

  /** As tagSentences, but also returns per-token per-tag softmax
    * probabilities (the reference final-test artifact's columns,
    * NeuralNER.py:325-333). `wantProbs = false` skips the per-token
    * boxing of the distributions (the hot path's default). */
  def tagSentencesFull(sentences: Seq[IndexedSeq[String]], m: Models.LangModel,
                       useViterbi: Boolean, wantProbs: Boolean = true): Seq[(Seq[String], Seq[Seq[Float]])] = {
    val nonEmpty = sentences.zipWithIndex.filter(_._1.nonEmpty)
    val encoded = nonEmpty.map { case (tokens, _) =>
      val wordIds = new Array[Int](tokens.length)
      val cps = new Array[Array[String]](tokens.length)
      var i = 0
      while (i < tokens.length) {
        wordIds(i) = m.inputVocab.getWordTrain(tokens(i))
        cps(i) = TextExtract.codePoints(tokens(i))
        i += 1
      }
      Kernel.Encoded(tokens, wordIds, cps)
    }.toArray
    val hidden = Kernel.bilstmStatesBatch(encoded, m.charVocab, m.weights)
    val results = scala.collection.mutable.ArrayBuffer.fill[(Seq[String], Seq[Seq[Float]])](
      sentences.length)((Nil, Nil))
    nonEmpty.iterator.zipWithIndex.foreach { case ((_, origIdx), k) =>
      val tagged = if (useViterbi) Kernel.viterbiDecode(hidden(k), m.weights)
                   else Kernel.greedyDecode(hidden(k), m.weights)
      val preds = tagged.preds.toIndexedSeq.map(id =>
        m.tagVocab.getIndex(id).getOrElse("o").toUpperCase(java.util.Locale.ROOT))
      results(origIdx) =
        (preds, if (wantProbs) tagged.probs.toIndexedSeq.map(_.toIndexedSeq) else Nil)
    }
    results.toSeq
  }

  /** Flatten to CoNLL-style per-token rows (K1 sink shape,
    * NeuralNER.py:325-333; gold empty for unlabeled corpora). */
  def taggedTokens(ner: Dataset[SentenceNer]): Dataset[TaggedToken] = {
    val spark = ner.sparkSession
    import spark.implicits._
    ner.flatMap { s =>
      s.tokens.iterator.zip(s.preds.iterator).zipWithIndex.map { case ((tok, pred), i) =>
        TaggedToken(s.url, s.lang, s.sentIdx, i, tok, "", pred)
      }
    }
  }

  /** BIOES span assembly -> mentions (conlleval chunking semantics). */
  def mentions(ner: Dataset[SentenceNer]): Dataset[Mention] = {
    val spark = ner.sparkSession
    import spark.implicits._
    ner.flatMap { s =>
      Bioes.spans(s.preds.toIndexedSeq).iterator.map { sp =>
        Mention(s.url, s.lang, s.sentIdx, sp.begin, sp.end,
          s.tokens.slice(sp.begin, sp.end).mkString(" "), sp.tpe)
      }
    }
  }

  /** Dependency-pattern triple extraction (north_star): adjacent mention
    * pairs within a sentence, predicate = first connecting token found in
    * the (broadcast) predicate lexicon, else "related_to". Pure per-sentence
    * flatMap: no shuffle. */
  def rawTriples(ner: Dataset[SentenceNer], bcPredLex: Broadcast[Set[String]],
                 maxGap: Int = 10): Dataset[RawTriple] = {
    val spark = ner.sparkSession
    import spark.implicits._
    ner.flatMap { s =>
      val sps = Bioes.spans(s.preds.toIndexedSeq)
      val lex = bcPredLex.value
      val toks = s.tokens
      (0 until math.max(0, sps.length - 1)).iterator.flatMap { i =>
        val a = sps(i); val b = sps(i + 1)
        if (b.begin - a.end > maxGap) Iterator.empty
        else {
          val between = toks.slice(a.end, b.begin)
          val pred = between.find(t => lex.contains(t.toLowerCase(java.util.Locale.ROOT)))
            .map(_.toLowerCase(java.util.Locale.ROOT)).getOrElse("related_to")
          Iterator.single(RawTriple(s.url, s.lang, s.sentIdx,
            toks.slice(a.begin, a.end).mkString(" "), pred,
            toks.slice(b.begin, b.end).mkString(" "), a.tpe, b.tpe))
        }
      }
    }
  }

  /** Default deterministic predicate lexicon (verb-ish connectors in the
    * synthetic corpus vocabulary). */
  val defaultPredicateLexicon: Set[String] = Set(
    "join", "merge", "sort", "scan", "stream", "order", "hash", "batch",
    "is", "has", "was", "are", "of", "in", "by", "with", "to")
}
