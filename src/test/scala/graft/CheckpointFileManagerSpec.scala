package graft

import org.apache.hadoop.fs.{FileAlreadyExistsException, Path}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
import org.scalatest.funsuite.AnyFunSuite

/** Streaming checkpoints use [[Sessions.CheckpointFileManagerClass]], in
  * tests as in production, and it keeps the no-overwrite guard Spark uses
  * to detect two queries writing one checkpoint. */
class CheckpointFileManagerSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("checkpoint logs use the session's manager, which refuses to overwrite a log file") {
    val dir = new Path(
      java.nio.file.Files.createTempDirectory("ckpt_manager").toUri)
    val fm = CheckpointFileManager.create(dir, spark.sessionState.newHadoopConf())
    assert(fm.getClass.getName === Sessions.CheckpointFileManagerClass)
    val log = new Path(dir, "0")
    def write(): Unit = {
      val out = fm.createAtomic(log, overwriteIfPossible = false)
      out.write("v1\n".getBytes("UTF-8"))
      out.close()
    }
    write()
    assert(fm.exists(log))
    intercept[FileAlreadyExistsException](write())
  }
}
