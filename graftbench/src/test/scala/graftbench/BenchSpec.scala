package graftbench

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import java.io.File
import java.nio.file.Files

/** One small local session and a scratch directory for the specs. */
trait BenchSession extends AnyFunSuite with BeforeAndAfterAll {
  lazy val root: File = Files.createTempDirectory("graftbench-spec").toFile
  lazy val spark: SparkSession = Main.session(2, root.getPath)

  override def afterAll(): Unit = {
    spark.stop()
    def rm(f: File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete()
    }
    rm(root)
  }
}
