package graftbench

import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{col, lit}

import graft.{Equality, Graft}

/** Keyed OLTP on a 16-bucket `orders` table (the seeded four fifths of the
  * 50k-row slice of the test table, unique key, auto-analyzed on key and
  * date) with two maintained summaries: an invertible `multi` summary
  * (count/sum by status x priority) and a rescan-requiring `minmax`
  * summary (by status).
  *
  * A round is one pass of a fixed op sequence, the same for every seed
  * (the seed picks keys and the rows copied in):
  *  - four keyed writes of 1 key up to 1% of the table: upsert of 400
  *    rows (an eighth new keys), partial-column update of 8, delete of 50,
  *    applyChanges of 60 (10 new keys, 10 deletes); inserts and deletes
  *    balance, so the table stays at its start size;
  *  - one `summaries.maintain` of both summaries, which folds the round's
  *    writes, then a vacuum of the three tables to their last generation
  *    (right after the maintain: a fold needs every generation since its
  *    watermark), so stored bytes level off; writes rewrite whole
  *    buckets, so there is nothing for compaction to merge;
  *  - eleven reads: six point lookups, two 64-key ranges, one projected
  *    where + orderBy + limit, and, after the maintain, two grouped
  *    aggregates the summary rewrite serves. */
final class KeyedOltp(ctx: Ctx) extends Workload {
  import ctx.{h, spark}
  private val Table = "orders"
  private val Multi = "orders_by_status_prio"
  private val MinMax = "orders_minmax_by_status"
  private val slice = Orders.slice(spark, ctx.dataDir, ctx.seed)
  private val initial = slice.collect().toSeq.map(r => (Orders.fromRow(r), r.getBoolean(6)))
  private var model = new OrdersModel(initial)
  private val served = new ServedAggregates(Table, model)
  private val r = new Random(ctx.seed * 31 + 7)
  private var g: Graft = _
  private var rounds = 0
  /** Rows written since the last maintain. */
  private var changed = 0L

  def setup(rep: Int): Unit = {
    g = Graft(spark, ctx.storeRoot(rep))
    g.create.table(Table, Orders.Columns, primaryKey = Seq("o_orderkey"), buckets = 16)
    g.maintenance.autoAnalyze(Table, Seq("o_orderkey", "o_orderdate"))
    g.write.insert(Table, slice.filter(!col("_pool")).drop("_pool"))
    g.summaries.define(Multi, Table, Seq("o_orderstatus", "o_orderpriority"), Seq("o_totalprice"), kind = "multi")
    g.summaries.define(MinMax, Table, Seq("o_orderstatus"), Seq("o_totalprice"), kind = "minmax")
  }

  override def warmup(): Unit = {
    setup(-1)
    round()
    model = new OrdersModel(initial)
  }

  def round(): Unit = {
    upsert(400, 50); pointRead(); pointRead()
    update(8); pointRead(); rangeRead()
    delete(50); pointRead(); pointRead()
    applyChanges(60, 10, 10); projectedRead()
    maintain()
    served.read(h, g, model, 2 * rounds); served.read(h, g, model, 2 * rounds + 1)
    Seq(Table, Multi, MinMax).foreach(t => h.op("vacuum", Cls.Maintenance)(g.maintenance.vacuum(t)))
    pointRead(); rangeRead()
    rounds += 1
  }

  /** Rows copied from the pool onto `key`: a full row of the test table. */
  private def copyOnto(key: Long): Order = model.donor(r).copy(key = key)

  private def upsert(n: Int, nNew: Int): Unit = {
    val rows = model.liveKeys(r, n - nNew).map(copyOnto) ++ model.takeNew(r, nNew)
    if (write("upsert", n)(g.write.merge(Table, Orders.df(spark, rows), upsert = true)))
      rows.foreach(model.put)
  }

  /** Partial-column update: price and priority only. */
  private def update(n: Int): Unit = {
    val rows = model.liveKeys(r, n).map(copyOnto)
    val src = Orders.df(spark, rows).select("o_orderkey", "o_totalprice", "o_orderpriority")
    if (write("update", n)(g.write.update(Table, src)))
      rows.foreach(o => model.put(model.rows.get(o.key).copy(price = o.price, prio = o.prio)))
  }

  private def delete(n: Int): Unit = {
    val keys = model.liveKeys(r, n)
    val src = Orders.df(spark, keys.map(model.rows.get)).select("o_orderkey")
    if (write("delete", n)(g.write.delete(Table, src))) keys.foreach(model.remove)
  }

  private def applyChanges(n: Int, nNew: Int, nDel: Int): Unit = {
    val (dels, ups) = model.liveKeys(r, n - nNew).splitAt(nDel)
    val upRows = ups.map(copyOnto) ++ model.takeNew(r, nNew)
    val src = Orders.df(spark, upRows).withColumn("_del", lit(false))
      .unionByName(Orders.df(spark, dels.map(model.rows.get)).withColumn("_del", lit(true)))
    if (write("apply_changes", n)(g.write.applyChanges(Table, src, "_del"))) {
      upRows.foreach(model.put)
      dels.foreach(model.remove)
    }
  }

  private def write(kind: String, n: Int)(body: => Unit): Boolean = {
    changed += n
    h.op(kind, Cls.Write, rows = n, bytes = n * Orders.RowBytes)(body).isDefined
  }

  /** Folds the round's writes into both summaries, so the aggregate reads
    * that follow are served from them. */
  private def maintain(): Unit = {
    h.op("maintain", Cls.Fold, rows = changed) {
      h.child("summaries.maintain.multi")(g.summaries.maintain(Multi))
      h.child("summaries.maintain.minmax")(g.summaries.maintain(MinMax))
    }
    changed = 0L
  }

  private def pointRead(): Unit = {
    val k = model.liveKey(r)
    h.read("point")(g.read.table(Table, where = Some(s"o_orderkey = $k")).collect())
      .foreach(got => check("point", got, Seq(model.rows.get(k))))
  }

  private def rangeRead(): Unit = {
    val k = model.liveKey(r)
    h.read("range")(g.read.table(Table,
      where = Some(s"o_orderkey >= $k and o_orderkey < ${k + 64}")).collect())
      .foreach(got => check("range", got.sortBy(_.getLong(0)),
        model.rows.subMap(k, k + 64).values().toArray(Array.empty[Order]).toSeq))
  }

  private def projectedRead(): Unit = {
    val d0 = model.rows.get(model.liveKey(r)).day
    val st = Orders.Statuses(r.nextInt(3))
    val got = h.read("projected")(g.read.table(Table,
      columns = Seq("o_totalprice", "o_orderdate"),
      where = Some(s"o_orderdate >= '${Orders.date(d0)}' and o_orderdate < '${Orders.date(d0 + 30)}' " +
        s"and o_orderstatus = '$st'"),
      orderBy = Seq("o_totalprice", "o_orderkey"), orderDesc = true, limit = Some(20)).collect())
    got.foreach { rows =>
      val want = model.values.filter(o => o.day >= d0 && o.day < d0 + 30 && o.status == st)
        .toSeq.sortBy(o => (o.price, o.key)).reverse.take(20)
        .map(o => (o.key, o.price, o.day))
      val have = rows.toSeq.map(x => (x.getLong(0), BigDecimal(x.getDecimal(1)),
        x.getDate(2).toLocalDate.toEpochDay.toInt))
      if (have != want) h.mismatch(s"projected read: got ${have.take(3)}..., want ${want.take(3)}...")
    }
  }

  private def check(kind: String, got: Array[Row], want: Seq[Order]): Unit = {
    val have = got.toSeq.map(Orders.fromRow)
    if (have != want) h.mismatch(s"$kind read: got ${have.take(2)}, want ${want.take(2)}")
  }

  def verify(): Unit = {
    val plain = Orders.df(spark, model.values).cache()
    try Equality.compareDfs(g.read.table(Table), plain)
    catch { case e: AssertionError => h.mismatch("final table: " + e.getMessage.take(500)) }
    served.verify(h, g, model, plain)
    plain.unpersist()
  }

  def liveTables: Seq[(Graft, String)] = Seq(g -> Table, g -> Multi, g -> MinMax)
}

/** The grouped aggregates the summaries serve, checked against the model. */
final class ServedAggregates(table: String, start: OrdersModel) {
  private val Queries = Vector(
    "q_sum" -> ("select o_orderstatus, o_orderpriority, count(*) as n, sum(o_totalprice) as s " +
      "from orders group by o_orderstatus, o_orderpriority"),
    "q_avg" -> ("select o_orderstatus, avg(o_totalprice) as a, count(*) as n from orders " +
      "where o_orderstatus in ('F', 'O') group by o_orderstatus"),
    "q_minmax" -> ("select o_orderstatus, min(o_totalprice) as lo, max(o_totalprice) as hi " +
      "from orders group by o_orderstatus"),
    "q_having" -> ("select o_orderpriority, sum(o_totalprice) as s from orders " +
      "group by o_orderpriority having sum(o_totalprice) > HAVING"))
  // about half of the five priority groups pass the HAVING floor
  private val havingFloor: BigDecimal = start.values.iterator.map(_.price).sum / 5

  private def sqlOf(q: String): String = q.replace("HAVING", havingFloor.toString)

  /** The `i`-th served read of the run (the shapes take turns). */
  def read(h: Harness, g: Graft, model: OrdersModel, i: Int): Unit = {
    val (name, q) = Queries(i % Queries.size)
    h.read(name, servedBase = Some(s"/$table/data"))(g.sql(sqlOf(q), tables = Seq(table)).collect())
      .foreach(got => check(h, name, got, expected(model, name)))
  }

  /** Expected result of each query, computed from the model, keyed by group. */
  private def expected(model: OrdersModel, name: String): Map[Seq[String], Seq[BigDecimal]] = {
    val all = model.values.toSeq
    name match {
      case "q_sum" => all.groupBy(o => Seq(o.status, o.prio)).map { case (k, os) =>
        k -> Seq(BigDecimal(os.size), os.map(_.price).sum) }
      case "q_avg" => all.filter(o => o.status == "F" || o.status == "O").groupBy(o => Seq(o.status))
        .map { case (k, os) => k -> Seq(os.map(_.price).sum / os.size, BigDecimal(os.size)) }
      case "q_minmax" => all.groupBy(o => Seq(o.status)).map { case (k, os) =>
        k -> Seq(os.map(_.price).min, os.map(_.price).max) }
      case "q_having" => all.groupBy(o => Seq(o.prio)).map { case (k, os) => k -> Seq(os.map(_.price).sum) }
        .filter(_._2.head > havingFloor)
    }
  }

  private def num(v: Any): BigDecimal = v match {
    case d: java.math.BigDecimal => BigDecimal(d)
    case d: Double => BigDecimal(d)
    case l: Long => BigDecimal(l)
    case i: Int => BigDecimal(i)
  }

  private def check(h: Harness, name: String, got: Array[Row], want: Map[Seq[String], Seq[BigDecimal]]): Unit = {
    val groups = if (name == "q_sum") 2 else 1
    val have = got.map(row => (0 until groups).map(row.getString) ->
      (groups until row.length).map(i => num(row.get(i)))).toMap
    // averages are compared to 1e-9 relative; everything else is exact
    val same = have.keySet == want.keySet && have.forall { case (k, vs) =>
      vs.zip(want(k)).forall { case (a, b) =>
        if (name == "q_avg") (a - b).abs <= b.abs * 1e-9 else a == b } }
    if (!same) h.mismatch(s"$name: got ${have.toSeq.sortBy(_._1.mkString).take(3)}, " +
      s"want ${want.toSeq.sortBy(_._1.mkString).take(3)}")
  }

  /** The min/max shape (the rescan-maintained summary) against the same SQL
    * over `plain`, which no summary serves (the summaries may lag the last
    * writes; then the rewrite must fall back to the base table). */
  def verify(h: Harness, g: Graft, model: OrdersModel, plain: DataFrame): Unit = {
    plain.createOrReplaceTempView("orders_plain")
    Queries.filter(_._1 == "q_minmax").foreach { case (name, q) =>
      try Equality.compareDfs(g.sql(sqlOf(q), tables = Seq(table)),
        plain.sparkSession.sql(sqlOf(q).replace("from orders", "from orders_plain")))
      catch { case e: AssertionError => h.mismatch(s"final $name: " + e.getMessage.take(500)) }
    }
  }
}
