package graft

import org.apache.spark.sql.functions.col
import org.json4s._
import org.json4s.jackson.JsonMethods.parse
import org.scalatest.funsuite.AnyFunSuite

import graft.filter.SparkTestSession

/** The driver mains' shared harness: the JSON escape, the stage recorder,
  * the `queries_layers` sums and the ONLY-list parser. */
class HarnessSpec extends AnyFunSuite with SparkTestSession {

  private def shuffleQuery(): Long =
    spark.range(0, 20000, 1, 4).groupBy(col("id") % 7).count()
      .queryExecution.toRdd.count()

  private def withRecorder[T](f: Harness.StageRecorder => T): T = {
    val recorder = new Harness.StageRecorder(spark)
    try f(recorder) finally spark.sparkContext.removeSparkListener(recorder)
  }

  test("jsonString round-trips every ASCII char, quote, backslash and non-ASCII through json4s") {
    val cases = (0 to 0x7f).map(_.toChar.toString) ++
      Seq("\"", "\\", "é", (0 to 0x7f).map(_.toChar).mkString + "\"\\é")
    cases.foreach { s =>
      assert(parse(s"""{"k":${Harness.jsonString(s)}}""") \ "k" == JString(s),
        s"U+${s.map(_.toInt.toHexString).mkString(",")}")
    }
  }

  test("a snapshot after a mark excludes earlier work; two runs record equal job and stage counts") {
    withRecorder { recorder =>
      shuffleQuery()
      recorder.mark()
      val empty = recorder.since()
      assert(empty.jobs == 0 && empty.stages.isEmpty)
      val runs = (1 to 2).map { _ =>
        recorder.mark(); shuffleQuery(); recorder.since()
      }
      assert(runs.head.jobs > 0 && runs.head.stages.size >= 2, runs.head)
      assert(runs.map(_.jobs).distinct.size == 1, runs.map(_.jobs))
      assert(runs.map(_.stages.size).distinct.size == 1, runs.map(_.stages.size))
      assert(runs.head.stages.map(_.id).toSet.intersect(runs(1).stages.map(_.id).toSet).isEmpty)
    }
  }

  test("queries_layers sums equal the sums of the recorded stage rows") {
    val rows = withRecorder { recorder =>
      recorder.mark(); shuffleQuery(); recorder.since().stages
    }
    assert(rows.map(_.shuffleWriteBytes).sum > 0, "a shuffle query writes shuffle bytes")
    implicit val fmts: Formats = DefaultFormats
    val layers = parse(Harness.layersJson(rows, 3)).extract[Map[String, Long]]
    assert(layers == Map(
      "persisted_after" -> 3L,
      "stages" -> rows.size.toLong,
      "tasks" -> rows.map(_.tasks.toLong).sum,
      "shuffle_read_bytes" -> rows.map(_.shuffleReadBytes).sum,
      "shuffle_write_bytes" -> rows.map(_.shuffleWriteBytes).sum,
      "spill_bytes" -> rows.map(_.spillBytes).sum,
      "input_bytes" -> rows.map(_.inputBytes).sum))
    rows.foreach(r =>
      assert((parse(r.json) \ "shuffle_write_bytes").extract[Long] == r.shuffleWriteBytes))
  }

  test("the ONLY parser rejects an unknown name and accepts a valid subset") {
    val universe = SparkEntry.queries.keys.toSeq.sorted
    val err = intercept[IllegalArgumentException] {
      Harness.only("ONLY", universe, Map("ONLY" -> "q_rts, q_nope,q_lkf_llt,q_typo"))
    }
    assert(err.getMessage.contains("q_nope,q_typo"), err.getMessage)
    intercept[IllegalArgumentException](Harness.only("ONLY", universe, Map("ONLY" -> " , ")))
    assert(Harness.only("ONLY", universe, Map("ONLY" -> "q_rts, q_lkf_llt,")) ==
      Seq("q_lkf_llt", "q_rts"))
    assert(Harness.only("ONLY", universe, Map.empty) == universe)
  }

}
