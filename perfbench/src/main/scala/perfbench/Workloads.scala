package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkEntry
import graft.sources.{Gen, Io}

/** Times the phases of one op; see [[Tracer.phase]]. */
trait Phases {
  def apply[A](kind: String)(body: => A): A
}

/** One operation of a pass. `run` executes it through `phase` and, when
  * `checked`, also verifies its output, returning the mismatch if any. */
final case class Op(name: String, family: String,
                    run: (SparkSession, Phases, Boolean) => Option[String])

/** A named set of inputs and ops. One pass runs every op once. */
trait Workload {
  def ops: IndexedSeq[Op]

  /** Whether a pass runs its ops in a seeded order (else in `ops` order). */
  def interleaved: Boolean

  /** Input preparation, timed as part of each set-up round. */
  def prepare(spark: SparkSession): Unit

  /** Rows of work in one pass, for `rows_per_s`. Known once a pass has been checked. */
  def rowsPerPass: Long

  /** Output check of a whole pass, run after it outside the timed region. */
  def checkPass(spark: SparkSession): Option[String]

  /** Workload-specific fields of the run record. */
  def record: Seq[(String, Any)]
}

object Workloads {
  val Names: Seq[String] = Seq("medallion", "query_mix")

  def apply(name: String, seed: Long, bench: Path, work: Path): Workload = name match {
    case "medallion" => new Medallion(work.resolve("medallion"), Medallion.Scale, seed)
    case "query_mix" => new QueryMix(bench.resolve("data/sf0.01"), bench.resolve("expected.json"))
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
}

/** Order-insensitive digest of a frame: row count plus the sum of per-row
  * 64-bit hashes. Floating-point values are hashed at 10 significant
  * digits so that summation order, which varies with partitioning, does
  * not change the digest. */
object Digest {
  private def canon(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType => format_string("%.9e", c.cast(DoubleType) + lit(0.0))
    case ArrayType(et, _) if needsCanon(et) => transform(c, x => canon(x, et))
    case StructType(fs) if fs.exists(f => needsCanon(f.dataType)) =>
      struct(fs.toIndexedSeq.map(f => canon(c.getField(f.name), f.dataType).as(f.name)): _*)
    case _ => c
  }

  private def needsCanon(t: DataType): Boolean = t match {
    case DoubleType | FloatType => true
    case ArrayType(et, _) => needsCanon(et)
    case StructType(fs) => fs.exists(f => needsCanon(f.dataType))
    case _ => false
  }

  def apply(df: DataFrame): (Long, String) = {
    val cols = df.schema.fields.toIndexedSeq.map { f =>
      canon(col("`" + f.name.replace("`", "``") + "`"), f.dataType)
    }
    val r = df.select(xxhash64(cols: _*).cast(DecimalType(38, 0)).as("h"))
      .agg(count(lit(1)), coalesce(sum(col("h")), lit(BigDecimal(0)).cast(DecimalType(38, 0))))
      .head()
    (r.getLong(0), r.getDecimal(1).toPlainString)
  }
}

/** Interleaved read-only queries from three families of the graded
  * catalog, over the committed sf0.01 tables. Each query is built through
  * `SparkEntry.queries` and executed by a `noop` write; the checked
  * (warm-up) run digests the output instead and compares it with the
  * digest committed in `expected.json`. */
final class QueryMix(data: Path, expectedFile: Path) extends Workload {
  import QueryMix._

  private val expected: Map[String, (Long, String)] = {
    implicit val formats: org.json4s.Formats = org.json4s.DefaultFormats
    val j = Json.parse(new String(Files.readAllBytes(expectedFile), "UTF-8"))
    (j \ "ops").extract[Map[String, Map[String, String]]].map { case (k, v) =>
      k -> (v("rows").toLong, v("hash"))
    }
  }

  private val digests = scala.collection.mutable.LinkedHashMap.empty[String, (Long, String)]

  val ops: IndexedSeq[Op] = Families.toIndexedSeq.flatMap { case (family, names) =>
    names.map { n =>
      Op(n, family, (spark, phase, checked) => {
        val df = phase("build")(SparkEntry.queries(n)(spark, data.toString))
        phase("exec") {
          if (!checked) { df.write.format("noop").mode("overwrite").save(); None }
          else {
            val d = Digest(df)
            digests(n) = d
            expected.get(n) match {
              case Some(e) if e == d => None
              case Some(e) => Some(s"digest ${d._1} rows/${d._2} != expected ${e._1} rows/${e._2}")
              case None => Some("no expected digest")
            }
          }
        }
      })
    }
  }

  def interleaved: Boolean = true

  /** Reads every input table once: validates the inputs and warms the
    * footer and file-listing caches the queries share. */
  def prepare(spark: SparkSession): Unit =
    Tables.foreach(t => spark.read.parquet(data.resolve(s"$t.parquet").toString).count())

  /** Result rows one pass delivers, from the committed digests. */
  def rowsPerPass: Long = ops.map(o => expected.get(o.name).fold(0L)(_._1)).sum

  def checkPass(spark: SparkSession): Option[String] = None

  def record: Seq[(String, Any)] = Seq(
    "data" -> data.getFileName.toString,
    "families" -> Json.Obj(Families),
    "digests" -> Json.Obj(digests.toSeq.map { case (k, (r, h)) => k -> Json.obj("rows" -> r, "hash" -> h) }))
}

object QueryMix {
  /** Ops per family. Chosen so a warm pass takes a few seconds on four
    * cores while each family keeps its distinct cost profile:
    *  - warehouse_sql: short analyst queries whose wall time is planning,
    *    codegen and job scheduling, not data;
    *  - iterative: many-job loops with eager checkpoints inside the build
    *    phase, and a streaming replay with micro-batches;
    *  - corpus_dedup: CPU- and shuffle-bound text operators whose work is
    *    done by the engine's custom Catalyst expressions. */
  val Families: Seq[(String, Seq[String])] = Seq(
    "warehouse_sql" -> Seq("q_fact_summary", "e3_email_valid", "a2_countif_udaf", "x_cube_stats",
      "x_window_funcs"),
    "iterative" -> Seq("x_kcore", "x_stream_dedup"),
    "corpus_dedup" -> Seq("x_ppjoin", "x_lang_id"))

  val Tables: Seq[String] = Seq("region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")
}

/** The paper's pipeline: seeded `Gen` source tables written as raw CSV in
  * set-up, then bronze (CSV → Parquet), silver (cleanse) and gold
  * (dimensional model) per pass. The three layers depend on each other, so
  * a pass always runs them in that order. */
final class Medallion(base: Path, scale: Double, seed: Long) extends Workload {
  private def dir(layer: String) = base.resolve(layer).toString
  private var dupKeys: Seq[(String, Any)] = Nil
  private var sourceRows = 0L

  val ops: IndexedSeq[Op] = IndexedSeq(
    Op("bronze", "sources", (spark, phase, _) => {
      phase("exec")(Io.runBronze(spark, dir("raw"), dir("bronze")))
      None
    }),
    Op("silver", "pipelines", (spark, phase, _) => {
      phase("exec")(Io.runSilver(spark, dir("bronze"), dir("silver"), Medallion.AsOf, Medallion.AsOfYear))
      None
    }),
    Op("gold", "pipelines", (spark, phase, _) => {
      phase("exec")(Io.runGold(spark, dir("silver"), dir("gold")))
      None
    }))

  def interleaved: Boolean = false

  def prepare(spark: SparkSession): Unit =
    Gen.all(spark, scale, seed).foreach { case (t, df) => Io.writeCsv(df, s"${dir("raw")}/$t") }

  def rowsPerPass: Long = sourceRows

  /** Reconciles gold against silver with invariants that hold for any
    * seed, including the duplicate ids `Gen`'s 8-hex-digit keys produce. */
  def checkPass(spark: SparkSession): Option[String] = {
    for ((layer, tables) <- Seq("bronze" -> Medallion.Sources, "silver" -> Medallion.Sources,
        "gold" -> Medallion.GoldTables); t <- tables)
      spark.read.parquet(s"${dir(layer)}/$t").createOrReplaceTempView(s"${layer.head}_$t")
    def scalars(exprs: Seq[String]) = spark.sql(exprs.map(e => s"($e)").mkString("SELECT ", ", ", "")).head()
    val gold = scalars(Medallion.Invariants.map(_._2))
    val silver = scalars(Medallion.Invariants.map(_._3))
    val pairs = Medallion.Invariants.indices.map(i => (Medallion.Invariants(i)._1, gold.get(i), silver.get(i)))
    val dups = scalars(Medallion.Keys.map { case (t, k) => s"SELECT count(*) - count(DISTINCT $k) FROM b_$t" })
    dupKeys = Medallion.Keys.indices.map(i => Medallion.Keys(i)._1 -> dups.getLong(i))
    sourceRows = scalars(Medallion.Sources.map(t => s"SELECT count(*) FROM b_$t")).toSeq
      .map(_.asInstanceOf[Long]).sum
    val bad = pairs.filter { case (_, a, w) => a != w }
    if (bad.isEmpty) None
    else Some(bad.map { case (n, a, w) => s"$n: gold $a != silver $w" }.mkString("; "))
  }

  def record: Seq[(String, Any)] = Seq(
    "scale" -> scale, "gen_seed" -> seed, "source_rows" -> sourceRows,
    "duplicate_keys" -> Json.Obj(dupKeys))
}

object Medallion {
  /** Pipeline scale: 2 × the reference's row counts, ~52k source rows. */
  val Scale = 2.0
  val AsOf = "2026-01-01 00:00:00"
  val AsOfYear = 2026

  val Sources: Seq[String] = Seq("clients", "crm_clients", "vehicles", "policies", "claims", "payments")
  val GoldTables: Seq[String] = Seq("dim_clients", "dim_vehicles", "fact_client_summary", "fact_payments")
  val Keys: Seq[(String, String)] = Seq("clients" -> "client_id", "policies" -> "policy_id",
    "vehicles" -> "vehicle_id", "payments" -> "payment_id", "claims" -> "claim_id")

  private val knownClient = "client_id IN (SELECT client_id FROM s_clients)"
  private def viaPolicies(t: String) =
    s"FROM s_$t x JOIN (SELECT DISTINCT policy_id, client_id FROM s_policies) m " +
      s"ON x.policy_id = m.policy_id WHERE m.$knownClient"

  /** (name, gold-side SQL, silver-side SQL): each pair must agree. Money
    * is compared as DECIMAL(18,2), which round-trips gold's doubles. */
  val Invariants: Seq[(String, String, String)] = Seq(
    ("dim_clients_rows", "SELECT count(*) FROM g_dim_clients",
      "SELECT sum(greatest(coalesce(m.n, 0), 1)) FROM s_clients c LEFT JOIN " +
        "(SELECT client_id, count(*) AS n FROM s_crm_clients GROUP BY client_id) m " +
        "ON c.client_id = m.client_id"),
    ("dim_vehicles_rows", "SELECT count(*) FROM g_dim_vehicles",
      "SELECT count(*) FROM (SELECT DISTINCT vehicle_id, client_id, brand, model, year, plate FROM s_vehicles)"),
    ("summary_rows", "SELECT count(*) FROM g_fact_client_summary",
      "SELECT count(*) FROM (SELECT DISTINCT client_id FROM s_clients)"),
    ("summary_premium", "SELECT sum(CAST(total_premium AS DECIMAL(18,2))) FROM g_fact_client_summary",
      s"SELECT sum(CAST(premium AS DECIMAL(18,2))) FROM s_policies WHERE $knownClient"),
    ("summary_policies", "SELECT sum(total_policies) FROM g_fact_client_summary",
      s"SELECT count(policy_id) FROM s_policies WHERE $knownClient"),
    ("summary_payments", "SELECT sum(CAST(total_payments AS DECIMAL(18,2))) FROM g_fact_client_summary",
      s"SELECT sum(CAST(x.amount AS DECIMAL(18,2))) ${viaPolicies("payments")}"),
    ("summary_num_payments", "SELECT sum(num_payments) FROM g_fact_client_summary",
      s"SELECT count(x.payment_id) ${viaPolicies("payments")}"),
    ("summary_claims", "SELECT sum(CAST(total_claims AS DECIMAL(18,2))) FROM g_fact_client_summary",
      s"SELECT sum(CAST(x.amount AS DECIMAL(18,2))) ${viaPolicies("claims")}"),
    ("summary_num_claims", "SELECT sum(num_claims) FROM g_fact_client_summary",
      s"SELECT count(x.claim_id) ${viaPolicies("claims")}"),
    ("summary_ratio_mismatch",
      "SELECT count(*) FROM g_fact_client_summary WHERE CASE " +
        "WHEN total_premium IS NULL OR total_premium = 0 THEN claim_ratio IS NOT NULL " +
        "ELSE abs(claim_ratio - total_claims / total_premium) > 1e-9 * abs(total_claims / total_premium) END",
      "SELECT 0L"),
    ("fact_payments_rows", "SELECT count(*) FROM g_fact_payments",
      "SELECT sum(greatest(coalesce(m.n, 0), 1)) FROM s_payments p LEFT JOIN " +
        "(SELECT policy_id, count(*) AS n FROM " +
        "(SELECT DISTINCT policy_id, client_id, vehicle_id FROM s_policies) GROUP BY policy_id) m " +
        "ON p.policy_id = m.policy_id"))
}
