package graft.ner

import scala.collection.mutable

/**
 * GloVe-format embedding loading with the reference's exact semantics
 * (NeuralNERMono/utils/utilsLocal.py:16-83 `load_embeddings`):
 *
 *  - row 0 is a zero padding vector for the dummy token "</SSSSSSSSSSSS>";
 *  - keys are lowercased; the FIRST occurrence of a key wins;
 *  - dimension is inferred from the first data line and enforced;
 *  - a zero "<unk>" row is appended last;
 *  - resulting matrix row index == dictionary index.
 */
object Embeddings {

  final case class Loaded(
      matrix: Array[Array[Float]],     // [V+2][D], row 0 and row V+1 zero
      index: Map[String, Int],         // lowercased word -> row
      dim: Int
  )

  val PadToken = "</SSSSSSSSSSSS>"
  val UnkToken = "<unk>"

  /** Parse GloVe-format lines. Blank lines skipped; `word v1 .. vD`. */
  def fromLines(lines: Iterator[String]): Loaded = {
    val index = mutable.LinkedHashMap.empty[String, Int]
    index(PadToken) = 0
    val rows = mutable.ArrayBuffer.empty[Array[Float]]
    var dim = 0
    for (line0 <- lines) {
      val line = line0.trim
      if (line.nonEmpty) {
        val parts = graft.text.TextExtract.splitChar(line, ' ')
        val word = parts(0).toLowerCase(java.util.Locale.ROOT)
        if (!index.contains(word)) {
          if (dim == 0) dim = parts.length - 1
          require(dim == parts.length - 1,
            s"embedding dim mismatch: expected $dim got ${parts.length - 1} for '$word'")
          val v = new Array[Float](dim)
          var i = 0
          while (i < dim) { v(i) = parts(i + 1).toFloat; i += 1 }
          index(word) = index.size
          rows += v
        }
      }
    }
    require(dim > 0, "no embedding rows parsed")
    index(UnkToken) = index.size
    val mat = new Array[Array[Float]](rows.length + 2)
    mat(0) = new Array[Float](dim)
    var i = 0
    while (i < rows.length) { mat(i + 1) = rows(i); i += 1 }
    mat(rows.length + 1) = new Array[Float](dim)
    Loaded(mat, index.toMap, dim)
  }

  /**
   * Distributed GloVe load (S1) for embedding files too large to stream
   * through the driver: parse + lowercase + first-occurrence-wins dedup as
   * a Spark job; only the deduped (vocab-sized) rows are collected, in file
   * order, then assembled with the same pad/unk rows as `fromLines`.
   * Identical output to `fromLines` on the same content.
   */
  def loadDistributed(spark: org.apache.spark.sql.SparkSession, path: String): Loaded = {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val lines = spark.sparkContext.textFile(path)
      .zipWithIndex() // file order: the first-wins tie-break key
      .toDF("line", "pos")
      .select(trim(col("line")).as("line"), col("pos"))
      .filter(length(col("line")) > 0)
    val parsed = lines
      .withColumn("parts", split(col("line"), " "))
      .select(
        lower(col("parts").getItem(0)).as("word"),
        slice(col("parts"), 2, Int.MaxValue).cast("array<float>").as("vec"),
        col("pos"))
    val deduped = parsed
      .groupBy(col("word"))
      .agg(min(struct(col("pos"), col("vec"))).as("first"))
      .select(col("word"), col("first.pos").as("pos"), col("first.vec").as("vec"))
      .orderBy(col("pos"))
      .as[(String, Long, Array[Float])]
      .collect()
    require(deduped.nonEmpty, "no embedding rows parsed")
    val dim = deduped.head._3.length
    deduped.foreach { case (w, _, v) =>
      require(v.length == dim,
        s"embedding dim mismatch: expected $dim got ${v.length} for '$w'")
    }
    val index = scala.collection.mutable.LinkedHashMap(PadToken -> 0)
    val mat = new Array[Array[Float]](deduped.length + 2)
    mat(0) = new Array[Float](dim)
    deduped.zipWithIndex.foreach { case ((w, _, v), i) =>
      index(w) = i + 1
      mat(i + 1) = v
    }
    index(UnkToken) = index.size
    mat(deduped.length + 1) = new Array[Float](dim)
    Loaded(mat, index.toMap, dim)
  }

  /** Build the input word Vocab from the embedding dictionary exactly like
    * NeuralNER.py:155-158 (iterate embedding vocab in insertion order,
    * `Vocab.add` each key — which lowercases, a no-op here). */
  def toInputVocab(loaded: Loaded): Vocab = {
    val v = new Vocab(caseSensitive = false)
    // LinkedHashMap insertion order was lost in `.toMap`; rebuild from row order.
    val byRow = loaded.index.toArray.sortBy(_._2)
    byRow.foreach { case (w, _) => v.add(w) }
    v.freeze()
    v
  }

  /**
   * Deterministic synthetic GloVe file content for a token set: one line per
   * token with hash-seeded values in (-0.5, 0.5). Used for tests/benchmarks
   * (no external embedding files in the sandbox); at production scale this
   * is replaced by the real GloVe/fastText file, which is a model artifact
   * (driver-loaded + broadcast), never a distributed table.
   */
  def syntheticLines(tokens: Seq[String], dim: Int, seed: Long): Seq[String] = {
    tokens.map { t =>
      var h = seed ^ fnv1a(t)
      val sb = new StringBuilder(t)
      var i = 0
      while (i < dim) {
        h = xorshift(h)
        val v = ((h >>> 11).toDouble / (1L << 53).toDouble) - 0.5
        sb.append(' ').append(f"$v%.6f")
        i += 1
      }
      sb.toString
    }
  }

  def fnv1a(s: String): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < s.length) { h ^= s.charAt(i); h *= 0x100000001b3L; i += 1 }
    h
  }

  def xorshift(x0: Long): Long = {
    var x = if (x0 == 0L) 0x9e3779b97f4a7c15L else x0
    x ^= x << 13; x ^= x >>> 7; x ^= x << 17
    x
  }
}
