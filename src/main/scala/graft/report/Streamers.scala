package graft.report

/**
 * The reference's pluggable report-output boundary
 * (output/IBlobStreamer.java; factory MVJobOutputStreamFactory.java:7-11):
 * the job streams report lines through a streamer the FACTORY selects,
 * and swapping the factory redirects every category file to another
 * medium — the reference's own tests run the whole job against a
 * console/mock streamer by overriding `getStream`
 * (MVJobOutputStreamFactoryTest.java). [[ReportWriter.write]] takes the
 * factory the same way; the default streams to files.
 */
trait BlobStreamer extends Serializable {
  def append(data: String): Unit
  def commit(): Unit
}

/** File streamer, parity with FileStreamer.java:10-40: initialization is
 * LAZY on first append — create parent dirs, DELETE any pre-existing
 * file, recreate — so a re-run never appends to a previous run's output
 * (the recreate-on-append semantics pinned by FileStreamerTest.java:15-27;
 * the r9 writer opened plain append-mode writers and would have
 * interleaved stale files). Appends buffer through one writer; `commit`
 * closes it. */
final class FileStreamer(path: String) extends BlobStreamer {
  @transient private var writer: java.io.PrintWriter = _
  override def append(data: String): Unit = {
    if (writer == null) {
      val f = new java.io.File(path)
      Option(f.getParentFile).foreach(_.mkdirs())
      if (f.exists()) f.delete()
      writer = new java.io.PrintWriter(new java.io.BufferedWriter(
        new java.io.FileWriter(f, true)))
    }
    writer.println(data)
  }
  override def commit(): Unit = if (writer != null) writer.close()
}

/** Console streamer, parity with ConsoleStreamer.java:3-14: lines go to
 * stdout, commit is a no-op. On a cluster this lands in executor logs —
 * the reference offers it for small runs and tests (README.md example
 * runs are 1 record). */
final class ConsoleStreamer extends BlobStreamer {
  override def append(data: String): Unit = Console.out.println(data)
  override def commit(): Unit = ()
}

/** MVJobOutputStreamFactory parity: the default returns a
 * [[FileStreamer]] for the path, exactly like
 * MVJobOutputStreamFactory.java:8-10; tests/console runs override
 * `getStream`. Must be Serializable — it rides into foreachPartition
 * tasks. */
class OutputStreamFactory extends Serializable {
  def getStream(path: String): BlobStreamer = new FileStreamer(path)
}
