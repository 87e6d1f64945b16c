package graft

import org.scalatest.funsuite.AnyFunSuite

/** Every parquet read in `src/main` goes through
  * `operators.ParquetRead`: a bare `spark.read.parquet` infers the
  * schema with a footer-reading Spark job on every call, so one new
  * bare read brings that job back on whatever path calls it. */
class SourceGuardSpec extends AnyFunSuite {
  test("no DataFrameReader use in src/main outside ParquetRead") {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"run from the repository root (no ${root.getAbsolutePath})")
    def files(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(files)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    // `.read` followed by a reader call (`.parquet`, `.schema`,
    // `.format`, `.option`, ...), possibly across a line break
    val reader = """\.read\s*\.\s*\w+""".r
    val offenders = files(root).filter(_.getName != "ParquetRead.scala").flatMap { f =>
      val src = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      reader.findAllMatchIn(src).map { m =>
        val line = src.substring(0, m.start).count(_ == '\n') + 1
        s"${root.toPath.relativize(f.toPath)}:$line: ${m.matched}"
      }
    }
    assert(offenders.isEmpty,
      s"read through operators.ParquetRead instead:\n${offenders.mkString("\n")}")
  }
}
