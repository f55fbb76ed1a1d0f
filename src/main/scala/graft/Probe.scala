package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicReference
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

/** Dev probe over registry keys (not part of the driver contract):
  *
  * {{{
  * Probe <sfDir> <mode> <keys_csv> [--replicate N]
  * }}}
  *
  * Modes, each run per key on the [[KeyRunner]] that `Bench` times with:
  *  - `plan`: the key's `explain("formatted")` plan, as the noop sink would
  *    execute it, written to `target/probe/plan/<key>.txt`. Construction
  *    side effects (store builds, persisted intermediates) run as in Bench.
  *  - `executed-plan`: runs the key through the noop sink, then writes the
  *    executed (post-AQE, `isFinalPlan=true`) plan to
  *    `target/probe/executed-plan/<key>.txt`, so AQE's decisions
  *    (ReusedExchange, AQEShuffleRead, join-strategy rewrites) are visible.
  *  - `jobs`: three runs per key in one JVM after the table warm-up, each
  *    printing construction vs execution wall time, shuffle and input
  *    bytes, and every Spark job's wall time.
  *
  * `--replicate N` first writes an ×N copy of the sf directory to
  * `target/probe/<sf>_x<N>` (see [[replicate]]) and runs the keys on it, so
  * any key gets a scale curve by running it at several N.
  */
object Probe {

  private val Usage = "usage: Probe <sfDir> plan|executed-plan|jobs <keys_csv> [--replicate N]"
  private val Out = Paths.get("target", "probe")

  def main(args: Array[String]): Unit = {
    val i = args.indexOf("--replicate")
    val copies = if (i < 0) None else Some(
      args.lift(i + 1).flatMap(_.toIntOption).filter(_ >= 1).getOrElse(
        throw new IllegalArgumentException(s"--replicate takes a count >= 1; $Usage")))
    val pos = if (i < 0) args.toSeq else args.toSeq.patch(i, Nil, 2)
    require(pos.length == 3 && !pos.exists(_.startsWith("--")), Usage)
    val Seq(sfDir, mode, csv) = pos
    require(Seq("plan", "executed-plan", "jobs").contains(mode),
      s"unknown mode '$mode'; $Usage")
    val names = KeyRunner.select(Some(csv))

    val spark = LocalSession()
    spark.sparkContext.setLogLevel("ERROR")
    val dir = copies.fold(sfDir) { n =>
      val to = Out.resolve(s"${Paths.get(sfDir).getFileName}_x$n")
      replicate(spark, sfDir, n, to)
      to.toString
    }
    val runner = new KeyRunner(spark, dir)
    mode match {
      case "plan" => names.foreach { n =>
        write(mode, n, try runner.construct(n).queryExecution
            .explainString(FormattedMode)
          catch { case scala.util.control.NonFatal(e) => s"FAILED: $e" })
      }
      case "executed-plan" =>
        // the noop save runs its OWN QueryExecution (the DataFrame's
        // queryExecution would still show isFinalPlan=false): a listener
        // captures the execution that actually ran
        val last = new AtomicReference[String]("")
        spark.listenerManager.register(new QueryExecutionListener {
          override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
            last.set(qe.executedPlan.toString)
          override def onFailure(f: String, qe: QueryExecution,
              e: Exception): Unit = ()
        })
        names.foreach { n =>
          write(mode, n, try { runner.run(n); last.get() }
            catch { case scala.util.control.NonFatal(e) => s"FAILED: $e" })
        }
      case "jobs" =>
        runner.warmUp()
        for (n <- names; r <- 1 to 3) println(
          try {
            val k = runner.run(n)
            f"[probe] $n run$r construct=${k.constructS}%.3f " +
              f"execute=${k.executeS}%.3f shuffle_mb=${k.shuffleBytes / 1e6}%.2f " +
              f"input_mb=${k.inputBytes / 1e6}%.2f jobs=${k.jobS.length} " +
              k.jobS.map(s => f"$s%.2f").mkString("[", " ", "]")
          } catch { case scala.util.control.NonFatal(e) =>
            s"[probe] $n run$r FAILED: $e"
          })
    }
    spark.stop()
  }

  private def write(mode: String, key: String, text: String): Unit = {
    val f = Out.resolve(mode).resolve(s"$key.txt")
    Files.createDirectories(f.getParent)
    Files.writeString(f, text)
    println(s"[probe] $key -> $f")
  }

  /** Write an ×`copies` copy of the testdata directory `sfDir` to `to`
    * (replacing it). `documents` gets `doc_id + c·1,000,000` and `text`
    * prefixed with `copy<c> `; `embeddings` gets `vec_id + c·1,000,000` and
    * `c·0.37` added to each element; their other columns (`n_chars`
    * included, so it no longer counts the prefix) and every other entry
    * are copied unchanged.
    * A one-token prefix shifts only one 3-shingle, so every cross-copy
    * document pair stays a near-duplicate: the copy is a heavy-duplication
    * stress, not a realistic-density corpus, and the dedup keys' verified
    * pairs grow about quadratically in `copies`.
    */
  def replicate(spark: SparkSession, sfDir: String, copies: Int,
      to: Path): Unit = {
    FileUtils.deleteDirectory(to.toFile)
    Files.createDirectories(to)
    def copied(name: String, f: (DataFrame, Int) => DataFrame): Unit = {
      val src = spark.read.parquet(s"$sfDir/$name.parquet")
      (0 until copies).map(c => f(src, c)).reduce(_ union _)
        .write.parquet(to.resolve(s"$name.parquet").toString)
    }
    def shifted(df: DataFrame, id: String, c: Int): DataFrame =
      df.withColumn(id, (col(id) + lit(c * 1000000L))
        .cast(df.schema(id).dataType))
    val entries = Files.list(Paths.get(sfDir))
    try entries.forEach { p =>
      p.getFileName.toString match {
        case "documents.parquet" => copied("documents", (d, c) =>
          shifted(d, "doc_id", c)
            .withColumn("text", concat(lit(s"copy$c "), col("text"))))
        case "embeddings.parquet" => copied("embeddings", (e, c) =>
          shifted(e, "vec_id", c).withColumn("embedding",
            transform(col("embedding"), x => x + lit(c * 0.37f))
              .cast(e.schema("embedding").dataType)))
        case name =>
          if (Files.isDirectory(p))
            FileUtils.copyDirectory(p.toFile, to.resolve(name).toFile)
          else FileUtils.copyFile(p.toFile, to.resolve(name).toFile)
      }
    } finally entries.close()
  }
}
