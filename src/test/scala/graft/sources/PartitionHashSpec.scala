package graft.sources

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

/** The read side's one partition hash ([[TripleSink.subjectParts]])
  * equals the part_id the writers stamp, pmod(xxhash64(subj), nParts). */
class PartitionHashSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("subjectParts equals the writer's stamped part_id for ASCII, CJK and empty subjects") {
    val subjects = Seq("a", "e42", "Graft table", "", "北京", "中华人民共和国",
      "张三　", "東京都", "x" * 200)
    Seq(1, 7, 32).foreach { n =>
      val path = Files.createTempDirectory("graft-part-hash").toString
      TripleSink.write(subjects.map(s => (s, "p", "o")).toDF("subj", "pred", "obj"),
        path, "r1", nParts = n)
      val stamped = TripleSink.read(spark, path).select("subj", "part_id")
        .as[(String, Int)].collect().toMap
      assert(stamped.keySet == subjects.toSet)
      subjects.foreach { s =>
        assert(TripleSink.subjectParts(Seq(s), n) == Set(stamped(s)),
          s"nParts=$n subject '$s'")
      }
      assert(TripleSink.subjectParts(subjects, n) == stamped.values.toSet)
    }
  }
}
