package graft

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.LocalSpark.{sfDir, spark}

/** Guards on the driver contract itself. */
class ContractSpec extends AnyFunSuite {

  test("every oracleSql key has a queries entry") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracle without query: $missing")
  }

  test("entry returns rows on sf0.001 (driver smoke)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("oracle SQL contains no unescapable control characters") {
    SparkEntry.oracleSql.foreach { case (k, sql) =>
      assert(!sql.contains("\u0000"), s"$k has NUL")
    }
  }

  test("graft.Memo is the only memo layer in src/main/scala") {
    def isMemoMap(code: String) =
      !code.startsWith("*") && !code.startsWith("//") && !code.startsWith("/*") &&
        (code.contains("ConcurrentHashMap") || code.matches(""".*WeakHashMap\[\s*SparkSession.*"""))
    // the streaming state stores are sink-side state, not memos
    def allowed(file: String, code: String) =
      file.endsWith("/graft/Memo.scala") ||
        (file.endsWith("/streaming/StreamingJobs.scala") && code.matches(""".*\bstore\s*[:=].*"""))
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main/scala"))
      .iterator().asScala.filter(_.toString.endsWith(".scala")).toList
    assert(files.nonEmpty)
    val offenders = files.flatMap { f =>
      java.nio.file.Files.readAllLines(f).asScala.map(_.trim).zipWithIndex.collect {
        case (code, i) if isMemoMap(code) && !allowed(f.toString, code) => s"$f:${i + 1}: $code"
      }
    }
    assert(offenders.isEmpty, offenders.mkString("memo maps outside graft.Memo:\n", "\n", ""))
  }
}
