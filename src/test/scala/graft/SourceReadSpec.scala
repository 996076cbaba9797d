package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.model.{SessionMemo, Tables}
import scala.jdk.CollectionConverters._

/** One read per source table per session (`Tables`), and t_tfidf —
  * the ingest path's heaviest query — against an exact in-memory
  * TF-IDF model. */
class SourceReadSpec extends AnyFunSuite {
  import TestSession._

  private val sf01 = sf.replace("sf0.001", "sf0.01")

  test("a second Tables read in one session returns the same frame and runs no Spark job") {
    val session = spark.newSession()
    val prof = new JobProfile
    spark.sparkContext.addSparkListener(prof)
    try {
      val first = Tables(session, sf01, "documents")
      assert(prof.drain(spark))
      prof.reset()
      val second = Tables(session, sf01, "documents")
      assert(prof.drain(spark))
      assert(prof.snapshot.jobs == 0, prof.snapshot)
      assert(second eq first)
      // another session reads the table again
      assert(Tables(spark.newSession(), sf01, "documents") ne first)
    } finally spark.sparkContext.removeSparkListener(prof)
  }

  test("table reads do not count as memo builds") {
    val session = spark.newSession()
    val b0 = SessionMemo.buildCount.get()
    Tables.names.foreach(Tables(session, sf, _))
    Tables.names.foreach(Tables(session, sf, _))
    assert(SessionMemo.buildCount.get() == b0)
  }

  test("t_tfidf equals an in-memory TF-IDF model: exact scores, top 3 per doc, term tie-break") {
    val docs = Tables(spark, sf01, "documents").select("doc_id", "text").collect()
      .map(r => (r.getLong(0), Option(r.getString(1))))
    val n = docs.length.toLong
    // Spark's split(text, " ") keeps empty tokens, as split(" ", -1) does
    val tf: Map[(Long, String), Long] = docs.toSeq
      .flatMap { case (id, t) => t.toSeq.flatMap(_.split(" ", -1)).map(id -> _) }
      .groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val df: Map[String, Long] =
      tf.keys.groupBy(_._2).map { case (t, ks) => t -> ks.size.toLong }
    // Spark orders strings by their UTF-8 bytes
    val utf8 = Ordering.Iterable[Int].on[String](_.getBytes("UTF-8").toSeq.map(_ & 0xff))
    val expected = tf.toSeq
      .map { case ((id, term), c) => (id, term, c * ((n * 1000) / df(term))) }
      .groupBy(_._1).toSeq.sortBy(_._1)
      .flatMap { case (id, rows) =>
        rows.sortBy { case (_, term, score) => (-score, term) }(
          Ordering.Tuple2(Ordering.Long, utf8))
          .take(3).zipWithIndex
          .map { case ((_, term, score), i) => (id, i + 1, term, score) }
      }
    val got = SparkEntry.queries("t_tfidf")(spark, sf01).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getLong(3))).toSeq
    assert(expected.nonEmpty)
    assert(got == expected)
  }

  test("no operator, model, source or stream reads a source table outside Tables") {
    val readOfDir = """read\s*\.\s*parquet\s*\(\s*s"\$\{?dir\}?/""".r
    val offenders = Seq("operators", "model", "sources", "streaming")
      .flatMap { sub =>
        val st = java.nio.file.Files.walk(java.nio.file.Paths.get(s"src/main/scala/graft/$sub"))
        try st.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
        finally st.close()
      }
      .filterNot(_.getFileName.toString == "Tables.scala")
      .filter(p => readOfDir.findFirstIn(
        new String(java.nio.file.Files.readAllBytes(p), "UTF-8")).isDefined)
    assert(offenders.isEmpty,
      s"read source tables through graft.model.Tables: ${offenders.mkString(", ")}")
  }
}
