package graft.tools

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths, StandardOpenOption}

import org.apache.spark.sql.functions._
import graft.Sessions
import graft.core.catalog.Warehouse
import graft.streaming.StreamIngest

/** Cross-JVM crash/replay harness for the streaming consumer's offset-log
  * replay (see [[graft.streaming.StreamIngest.consume]]): each run is ONE
  * process in the exactly-once story, so a spec can prove the replay
  * guarantee across a REAL process boundary — no in-memory state survives.
  *
  * {{{ runMain graft.tools.ConsumeCrash <crash|resume> <whDir> <ckptDir> <outFile> }}}
  *
  *   - `crash`: drain once, but the sink RECORDS what it was delivered and
  *     then THROWS — the query dies after the batch's end offset is in
  *     the offset log and the records were handed over, but BEFORE the
  *     engine commits the batch. Exits 0 when the injected failure
  *     surfaced.
  *   - `resume`: drain normally from the same checkpoint. The engine replays
  *     the crashed batchId first; the sink appends every delivered batch to
  *     `outFile` so the spec can compare ranges line by line.
  *
  * Output lines: `batchId count minOffset maxOffset` (offsets over all
  * partitions; -1 -1 when empty).
  */
object ConsumeCrash {
  def main(args: Array[String]): Unit = {
    val Array(mode, whDir, ckpt, outFile) = args.take(4)
    val spark = Sessions.local(s"graft-consume-$mode", 2)
    val wh = Warehouse(whDir)

    def record(df: org.apache.spark.sql.DataFrame, id: Long): Unit = {
      val rows = df.select(col("offset")).collect().map(_.getLong(0))
      val line =
        if (rows.isEmpty) s"$id 0 -1 -1\n"
        else s"$id ${rows.length} ${rows.min} ${rows.max}\n"
      Files.write(Paths.get(outFile), line.getBytes(UTF_8),
        StandardOpenOption.CREATE, StandardOpenOption.APPEND)
    }

    val q = StreamIngest.consumeAvailableNow(spark, wh, "t", ckpt) { (df, id) =>
      record(df, id)
      if (mode == "crash") throw new RuntimeException("injected crash")
    }
    val failed =
      try { q.awaitTermination(120000); false }
      catch { case _: Exception => true }
    spark.stop()
    if (mode == "crash") {
      // the injected failure MUST have surfaced — a clean exit would mean
      // the batch committed and the spec would be testing nothing
      sys.exit(if (failed) 0 else 3)
    }
    sys.exit(if (failed) 2 else 0)
  }
}
