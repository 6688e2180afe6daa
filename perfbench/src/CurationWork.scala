package graft.perfbench

import org.apache.spark.sql.SparkSession
import graft.Curation
import graft.core.TableIO

/**
 * curation: each operation is `Curation.runAndWrite` into a fresh output
 * root — the `RunCuration` path.
 *
 * Check, per operation: every stage count of the `Report` equals that of
 * the first (warm-up) operation, the input count equals the documents
 * written during set-up, and the rows written equal `afterRepetition`.
 */
final class CurationWork(spark: SparkSession, in: Inputs) extends Workload {
  def docsPerOp: Long = in.baseDocs

  def prepare(): Unit = in.writeCuration()

  def op(i: Int): Any = {
    val out = in.freshOutput("curation")
    (out, Curation.runAndWrite(spark, in.curationDir, out))
  }

  private var reference: Option[Curation.Report] = None

  private def counts(r: Curation.Report): Seq[Long] =
    Seq(r.docsIn, r.afterQuality, r.afterExact, r.afterNearDup, r.afterDecontam,
      r.afterRepetition)

  def check(i: Int, result: Any): Seq[String] = {
    val (out, r) = result.asInstanceOf[(String, Curation.Report)]
    val problems = Seq.newBuilder[String]
    val ref = reference.getOrElse { reference = Some(r); r }
    if (counts(r) != counts(ref))
      problems += s"op $i stage counts ${counts(r)}, first op ${counts(ref)}"
    if (r.docsIn != docsPerOp)
      problems += s"op $i read ${r.docsIn} docs, expected $docsPerOp"
    if (r.langsWritten.isEmpty) problems += s"op $i wrote no language"
    val rows = TableIO.read(spark, out, "lang").count()
    if (rows != r.afterRepetition)
      problems += s"op $i wrote $rows rows, afterRepetition ${r.afterRepetition}"
    in.delete(out)
    problems.result()
  }

  /** Stage counts of the first operation (the curation keep ratios). */
  def report: Option[Curation.Report] = reference

  def sizes: Map[String, Any] = Map("docs" -> docsPerOp) ++
    reference.map(r => "stage_counts" -> counts(r)).toMap
}
