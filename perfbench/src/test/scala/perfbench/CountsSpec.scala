package perfbench

import java.io.File
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** Runs the harness on two cheap keys of the shipped corpus, traced, and
  * checks that the structural counts a steady pass reports repeat exactly
  * from pass to pass. Shuffle bytes are left out: a range-partitioned sort
  * (scan_csv_typed's orderBy) samples its bounds with a seed derived from
  * the RDD id, which changes every pass, so its compressed shuffle blocks
  * differ by a few bytes.
  */
class CountsSpec extends AnyFunSuite {

  test("steady-pass job, stage and task counts repeat exactly") {
    val work = Files.createTempDirectory(
      new File("target").getAbsoluteFile.toPath, "counts-spec").toFile
    val out = new File(work, "out.json")
    Main.main(Array("--keys", "Sources.scan_csv_typed,Relational.na_drop",
      "--data", new File("data/sf0.01").getAbsolutePath,
      "--work", work.getPath, "--seed", "3", "--passes", "3",
      "--setup-rounds", "1", "--trace", "1", "--out", out.getPath))
    val json = new String(Files.readAllBytes(out.toPath), "UTF-8")
    val layers = json.substring(json.indexOf("\"layers\":"))
    Seq("scan_csv_typed", "na_drop").foreach { key =>
      Seq("jobs", "stages", "tasks").foreach { field =>
        val values = ("\"" + key + "\":\\{[^}]*\"" + field + "\":([0-9]+)").r
          .findAllMatchIn(layers).map(_.group(1)).toSeq
        assert(values.size == 3, s"$key.$field: $values")
        assert(values.distinct.size == 1, s"$key.$field differs: $values")
        assert(values.head.toLong > 0)
      }
    }
  }
}
