package graft

import java.nio.file.{Files, Path}
import org.scalatest.funsuite.AnyFunSuite

/** `Tables.scanUnits` — the row-group count behind the map-side
  * fan-out decision. A failed count must answer the "parallel enough"
  * fallback for that call only: a fixture rewritten at the same path
  * is counted afresh, never served the cached failure.
  */
class TablesSpec extends AnyFunSuite {
  import TestSpark._

  test("scanUnits falls back on an unreadable footer without caching the failure") {
    val dir = Files.createTempDirectory("graft-scan-units")
    val path = dir.resolve("t.parquet")
    try {
      Files.writeString(path, "not a parquet file")
      assert(Tables.scanUnits(spark, path.toString, 4) == 4,
        "an unreadable footer must answer the fallback")
      Files.delete(path)
      spark.range(10).coalesce(1).write.parquet(path.toString)
      assert(Tables.scanUnits(spark, path.toString, 4) == 1,
        "the rewritten one-row-group file must be counted, not the cached fallback")
    } finally deleteRecursively(dir)
  }

  private def deleteRecursively(p: Path): Unit = {
    if (Files.isDirectory(p)) {
      val children = Files.list(p)
      try children.toArray.foreach(c => deleteRecursively(c.asInstanceOf[Path]))
      finally children.close()
    }
    Files.deleteIfExists(p)
  }
}
