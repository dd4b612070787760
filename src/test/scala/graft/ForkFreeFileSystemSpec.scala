package graft

import java.net.URI
import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermissions

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

/** `file:` writes start no process: [[Sessions.IoSettings]] serve `file:`
  * with [[NioLocalFileSystem]], whose permission calls stay in the JVM,
  * and the files and directories it creates carry the permission bits
  * the stock local file system gives them. */
class ForkFreeFileSystemSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** The command lines of the processes the JVM started while `body` ran,
    * from an in-process flight recording of `jdk.ProcessStart`. */
  private def processStarts(body: => Unit): Seq[String] = {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try body finally rec.stop()
    val file = Files.createTempFile("process_starts", ".jfr")
    try {
      rec.dump(file)
      RecordingFile.readAllEvents(file).asScala
        .filter(_.getEventType.getName == "jdk.ProcessStart")
        .map(_.getString("command")).toSeq
    } finally { rec.close(); Files.delete(file) }
  }

  test("three checkpointed foreachBatch batches and a parquet write start no chmod") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = Files.createTempDirectory("fork_free")
    val in = MemoryStream[Long]
    val seen = new java.util.concurrent.atomic.AtomicLong()
    val count: (DataFrame, Long) => Unit = (b, _) => seen.addAndGet(b.count())
    val commands = processStarts {
      val q = in.toDF().writeStream
        .option("checkpointLocation", dir.resolve("ckpt").toString)
        .foreachBatch(count)
        .start()
      try for (i <- 0 until 3) {
        in.addData(i * 10L until i * 10L + 5)
        q.processAllAvailable()
      } finally q.stop()
      spark.range(10).write.parquet(dir.resolve("out").toString)
    }
    assert(seen.get === 15L)
    assert(Files.exists(dir.resolve("ckpt/commits/2")))
    assert(!commands.exists(_.contains("chmod")), commands)
  }

  test("created files and directories get the stock local file system's bits") {
    val conf = spark.sessionState.newHadoopConf()
    val fs = FileSystem.get(URI.create("file:///"), conf)
    assert(fs.getClass === classOf[NioLocalFileSystem])
    val stock = new LocalFileSystem()
    stock.initialize(URI.create("file:///"), conf)
    /** rwx strings of a created directory, its parent, a file and the
      * file's checksum sibling. */
    def created(fs: FileSystem): Seq[String] = {
      val dir = new Path(new Path(Files.createTempDirectory("bits").toUri), "a/b")
      assert(fs.mkdirs(dir))
      val file = new Path(dir, "f")
      fs.create(file).close()
      Seq(dir, dir.getParent, file, new Path(dir, ".f.crc")).map(p =>
        PosixFilePermissions.toString(Files.getPosixFilePermissions(Paths.get(p.toUri))))
    }
    val bits = created(fs)
    assert(bits === created(stock))
    // under the default umask-mode 022
    assert(bits === Seq("rwxr-xr-x", "rwxr-xr-x", "rw-r--r--", "rw-r--r--"))
  }
}
