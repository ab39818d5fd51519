package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.model.ChangeEvent

/**
 * The correctness gate's reference: the final state computed by a plain
 * replay fold in the harness, independent of the engine's merge path. The
 * fold is base ∪ events, per key the row with the highest LSN, DELETE as a
 * tombstone. When the workload carries rules they are re-expressed here as
 * plain Columns.
 */
object Oracle {

  /** The workload's rules as plain Columns: a predicate on the raw payload
    * (DELETEs always pass) and the projection of the surviving rows. */
  final case class Rules(keep: Column, project: Seq[Column])

  val PayloadCols: Seq[String] = Seq(ChangeEvent.DOC_ID, "tokens", "n_tok", "source")

  def fold(spark: SparkSession, basePath: String, eventsPath: String,
      rules: Option[Rules]): DataFrame = {
    val payload = PayloadCols.map(col)
    // base rows rank below every event
    val base = spark.read.parquet(basePath)
      .select(payload :+ lit(-1L).as("lsn") :+ lit(ChangeEvent.INSERT).as("op"): _*)
    val events = spark.read.parquet(eventsPath)
      .select(payload :+ col(ChangeEvent.LSN).as("lsn") :+ col(ChangeEvent.OP).as("op"): _*)
    val all = base.unionByName(events)
    val kept = rules.fold(all)(r => all.filter(col("op") === ChangeEvent.DELETE || r.keep))
    val winners = kept.groupBy(ChangeEvent.DOC_ID)
      .agg(max_by(struct(col("op") +: payload.tail: _*), col("lsn")).as("w"))
      .filter(col("w.op") =!= ChangeEvent.DELETE)
      .select(col(ChangeEvent.DOC_ID) +: PayloadCols.tail.map(c => col(s"w.$c").as(c)): _*)
    rules.fold(winners)(r => winners.select(r.project: _*))
  }

  /** Row count and an order-independent hash of the given columns. */
  final case class Fingerprint(rows: Long, hash: java.math.BigDecimal)

  def fingerprint(df: DataFrame, cols: Seq[String]): Fingerprint = {
    val r = df.select(xxhash64(cols.map(col): _*).cast(DecimalType(38, 0)).as("h"))
      .agg(count(lit(1)), coalesce(sum("h"), lit(0).cast(DecimalType(38, 0))))
      .head()
    Fingerprint(r.getLong(0), r.getDecimal(1))
  }
}

/** Workspace file operations. */
object Fs {
  def rm(p: Path): Unit = if (Files.exists(p, java.nio.file.LinkOption.NOFOLLOW_LINKS)) {
    if (Files.isDirectory(p, java.nio.file.LinkOption.NOFOLLOW_LINKS))
      scala.util.Using.resource(Files.list(p))(_.iterator().forEachRemaining(rm))
    Files.deleteIfExists(p): Unit
  }

  def copyDir(src: Path, dst: Path): Unit =
    scala.util.Using.resource(Files.walk(src)) { walk =>
      walk.iterator().forEachRemaining { p =>
        val t = dst.resolve(src.relativize(p))
        if (Files.isDirectory(p)) Files.createDirectories(t)
        else Files.copy(p, t, java.nio.file.StandardCopyOption.COPY_ATTRIBUTES): Unit
      }
    }

  def sizeOf(p: Path): Long =
    if (!Files.exists(p)) 0L
    else scala.util.Using.resource(Files.walk(p)) { walk =>
      var total = 0L
      walk.iterator().forEachRemaining(f => if (Files.isRegularFile(f)) total += Files.size(f))
      total
    }
}
