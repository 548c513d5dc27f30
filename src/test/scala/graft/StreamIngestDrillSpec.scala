package graft

import org.apache.spark.sql.DataFrame

/** The stream-ingest gates that run Curation's exactly-once drill
  * (phased replay, kill-restart at every boundary, planted batch-0
  * crash debris, post-commit re-delivery), at sf0.001 through the query
  * registry, so a change to the drill fails the suite and not only the
  * oracle run. A gate whose oracle is another gate's, verbatim, must
  * return that gate's relation; a violation gate must return no rows.
  */
class StreamIngestDrillSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  private def run(name: String): DataFrame =
    SparkEntry.queries(name)(spark, sfDir)

  /** Column names and types plus the sorted rows: the relation as the
    * oracle compare sees it, whatever order the plan emits. */
  private def relation(df: DataFrame): (Seq[(String, String)], Seq[String]) =
    (df.schema.fields.map(f => f.name -> f.dataType.simpleString).toSeq,
      df.collect().map(_.toString).sorted.toSeq)

  Seq(
    "q162_bm25_stream_ingest" -> "q127_bm25",
    "q163_ivf_stream_ingest" -> "q35_ann_ivf"
  ).foreach { case (gate, reference) =>
    test(s"$gate returns $reference's relation") {
      val (got, want) = (relation(run(gate)), relation(run(reference)))
      assert(want._2.nonEmpty, s"$reference is empty at sf0.001")
      assert(got === want)
    }
  }

  Seq(
    "q166_ivfq_stream_ingest",
    "q170_neardup_stream_ingest",
    "q176_neardup_index_stream",
    "q208_ivfpq_stream_ingest"
  ).foreach { gate =>
    test(s"$gate finds no violation") {
      val violations = run(gate).collect()
      assert(violations.isEmpty, violations.mkString(", "))
    }
  }
}
