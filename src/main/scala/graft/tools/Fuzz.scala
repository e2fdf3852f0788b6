package graft.tools

import graft.Tables

/** Differential query fuzzer (round-10 verdict task 5): the 279 declared
  * keys are exhaustive for the declared surface but cannot find
  * unknown-unknowns, so this generates N seeded-random queries from a
  * bounded grammar over the TESTDATA schemas and runs each ONE SQL text
  * through BOTH engines — Spark executes it and dumps parquet, DuckDB
  * executes the same text as the oracle — graded by the existing
  * `tools/check_oracle.py` hash contract (order-sensitive row compare +
  * type-class audit). Any divergence is an engine-behavior difference the
  * fixed surface missed.
  *
  * The grammar deliberately stays inside the dialect intersection AND the
  * repo's oracle conventions (graft-oracle-conventions): every integer
  * aggregate is CAST to BIGINT in output position (DuckDB sum→HUGEINT),
  * double sums are quantize-THEN-aggregate (per-row floor to cent/micro
  * units, integer sum), every query ends in a total-order ORDER BY over
  * its output columns with explicit NULLS FIRST (the engines' default
  * null placement differs), and LIMIT only ever follows a unique-key
  * order. Shapes: filtered scans, single-join and dim-join aggregations,
  * HAVING, set ops (UNION ALL / INTERSECT / EXCEPT), and row_number
  * windows keyed by a unique ordering.
  *
  * Round-12 grammar extensions (round-11 verdict task 6):
  *  - OUTER joins (LEFT/FULL) with an extra ON-clause predicate on the
  *    right side — exercises null extension, null-skipping column counts
  *    and null group keys;
  *  - correlated EXISTS / NOT EXISTS subqueries over the star edges;
  *  - window functions beyond row_number: rank/dense_rank, lag, and
  *    running/sliding ROWS frames, with EXPLICIT `NULLS FIRST` inside the
  *    window ORDER BY (the engines' default null placement in window
  *    order differs — exactly the class of divergence the fuzzer hunts);
  *  - a NULL-DENSE mode: ~1/3 of single-table shapes wrap their source in
  *    a CTE that deterministically NULLs one non-key int and one str
  *    column on a pk modulus — the same SQL text on both engines, so
  *    3-valued-logic filter/aggregate/group/order behavior is
  *    differential (the raw fixtures are null-free, which left this
  *    dimension untested through 800 round-11 cases).
  *
  * Usage: runMain graft.tools.Fuzz [seed] [nCases] [sfDir] [outDir]
  * then:  python3 tools/check_oracle.py <sfDir> <outDir>
  */
object Fuzz {

  // ---- schema catalog (TESTDATA.md / FIXTURES.md) -------------------------
  private case class Col(name: String, kind: String) // kinds: int, dbl, str, ts
  private case class Tab(name: String, pk: Seq[String], cols: Seq[Col])

  private val lineitem = Tab("lineitem", Seq("l_orderkey", "l_linenumber"), Seq(
    Col("l_orderkey", "int"), Col("l_partkey", "int"), Col("l_suppkey", "int"),
    Col("l_linenumber", "int"), Col("l_quantity", "dbl"),
    Col("l_extendedprice", "dbl"), Col("l_discount", "dbl"), Col("l_tax", "dbl"),
    Col("l_returnflag", "str"), Col("l_linestatus", "str"),
    Col("l_shipdate", "ts")))
  private val orders = Tab("orders", Seq("o_orderkey"), Seq(
    Col("o_orderkey", "int"), Col("o_custkey", "int"),
    Col("o_orderstatus", "str"), Col("o_totalprice", "dbl"),
    Col("o_orderdate", "ts"), Col("o_orderpriority", "str")))
  private val customer = Tab("customer", Seq("c_custkey"), Seq(
    Col("c_custkey", "int"), Col("c_name", "str"), Col("c_nationkey", "int"),
    Col("c_acctbal", "dbl"), Col("c_mktsegment", "str")))
  private val events = Tab("events", Seq("event_id"), Seq(
    Col("event_id", "int"), Col("ts", "ts"), Col("user_id", "int"),
    Col("event_type", "str"), Col("value", "dbl")))
  private val baseTables = Seq(lineitem, orders, customer, events)

  /** (left, right, joinPred) equi-join edges of the star schema. */
  private val joins = Seq(
    (lineitem, orders, "t1.l_orderkey = t2.o_orderkey"),
    (orders, customer, "t1.o_custkey = t2.c_custkey"))

  // ---- deterministic generator -------------------------------------------
  private def pick[A](rnd: scala.util.Random, xs: Seq[A]): A =
    xs(rnd.nextInt(xs.size))

  private def pred(rnd: scala.util.Random, t: Tab, q: String): String = {
    val c = pick(rnd, t.cols)
    val col = s"$q${c.name}"
    c.kind match {
      case "int" =>
        pick(rnd, Seq(
          s"$col % ${2 + rnd.nextInt(9)} = ${rnd.nextInt(2)}",
          s"$col > ${rnd.nextInt(2000)}",
          s"$col <= ${100 + rnd.nextInt(5000)}"))
      case "dbl" =>
        pick(rnd, Seq(
          s"$col > ${rnd.nextInt(900)}.${rnd.nextInt(10)}",
          s"$col <= ${rnd.nextInt(90000)}.0"))
      case "str" =>
        pick(rnd, Seq(
          s"$col LIKE '%${rnd.nextInt(10)}%'",
          s"$col IS NOT NULL",
          s"length($col) > ${3 + rnd.nextInt(8)}"))
      case "ts" =>
        val d = 2 + rnd.nextInt(27)
        pick(rnd, Seq(
          f"$col%s < TIMESTAMP '2024-01-$d%02d 00:00:00'",
          s"$col >= TIMESTAMP '1994-01-01 00:00:00'"))
    }
  }

  private def whereOf(rnd: scala.util.Random, t: Tab, q: String = ""): String = {
    val n = 1 + rnd.nextInt(2)
    (0 until n).map(_ => pred(rnd, t, q)).mkString(" AND ")
  }

  /** Aggregate expression over `t` (qualified by `q`), aliased `as`,
    * convention-safe in both dialects. */
  private def aggOf(rnd: scala.util.Random, t: Tab, q: String, as: String): String = {
    val ints = t.cols.filter(_.kind == "int")
    val dbls = t.cols.filter(_.kind == "dbl")
    val strs = t.cols.filter(_.kind == "str")
    val choices = Seq(
      () => s"CAST(count(*) AS BIGINT) AS $as",
      () => s"CAST(count(DISTINCT $q${pick(rnd, ints).name}) AS BIGINT) AS $as",
      () => s"CAST(sum($q${pick(rnd, ints).name}) AS BIGINT) AS $as",
      () => s"CAST(min($q${pick(rnd, ints).name}) AS BIGINT) AS $as",
      () => s"CAST(max($q${pick(rnd, ints).name}) AS BIGINT) AS $as",
      // quantize-then-aggregate (cent units): integer sum both sides
      () => s"CAST(sum(CAST(floor($q${pick(rnd, dbls).name} * 100 + 0.5) AS BIGINT)) AS BIGINT) AS $as",
      () => s"min($q${pick(rnd, dbls).name}) AS $as",
      () => s"max($q${pick(rnd, dbls).name}) AS $as",
      () => s"max($q${pick(rnd, strs).name}) AS $as")
    pick(rnd, choices)()
  }

  /** Low-cardinality grouping expression, aliased. */
  private def keyOf(rnd: scala.util.Random, t: Tab, q: String, as: String): String = {
    val c = pick(rnd, t.cols)
    c.kind match {
      case "int" => s"CAST($q${c.name} % ${5 + rnd.nextInt(20)} AS BIGINT) AS $as"
      case "dbl" => s"CAST(floor($q${c.name} / ${100 + rnd.nextInt(900)}) AS BIGINT) AS $as"
      case "str" => s"$q${c.name} AS $as"
      case "ts"  => s"CAST(year($q${c.name}) * 100 + month($q${c.name}) AS BIGINT) AS $as"
    }
  }

  private def orderBy(cols: Seq[String]): String =
    "ORDER BY " + cols.map(c => s"$c ASC NULLS FIRST").mkString(", ")

  /** Null-dense rendering of `t`: with p=1/3, a CTE that NULLs one
    * non-key int and one str column wherever `pk % k = 0` — deterministic,
    * engine-neutral (one SQL text), and column-name-preserving so every
    * downstream generator piece works unchanged. Returns
    * (ctePrefix, fromName). */
  private def maybeNullDense(rnd: scala.util.Random, t: Tab): (String, String) = {
    if (rnd.nextInt(3) != 0) return ("", t.name)
    val nonKey = t.cols.filterNot(c => t.pk.contains(c.name))
    val intC = nonKey.filter(_.kind == "int")
    val strC = nonKey.filter(_.kind == "str")
    val victims =
      (if (intC.nonEmpty) Seq(pick(rnd, intC).name) else Seq.empty) ++
      (if (strC.nonEmpty) Seq(pick(rnd, strC).name) else Seq.empty)
    if (victims.isEmpty) return ("", t.name)
    val k = 3 + rnd.nextInt(5)
    val pk = t.pk.head
    val sel = t.cols.map { c =>
      if (victims.contains(c.name))
        s"CASE WHEN $pk % $k = 0 THEN NULL ELSE ${c.name} END AS ${c.name}"
      else c.name
    }.mkString(", ")
    (s"WITH src AS (SELECT $sel FROM ${t.name})\n", "src")
  }

  /** One random query; always a (name-stable) total-order result. */
  private[graft] def genQuery(rnd: scala.util.Random): String =
    rnd.nextInt(8) match {
      case 0 => // filtered scan, totally ordered, limited (± null-dense)
        val t = pick(rnd, baseTables)
        val (cte, from) = maybeNullDense(rnd, t)
        val extra = (0 until 1 + rnd.nextInt(3)).map(_ => pick(rnd, t.cols).name)
        val cols = (t.pk ++ extra).distinct
        val sel = cols.map {
          case c if t.cols.find(_.name == c).get.kind == "int" =>
            s"CAST($c AS BIGINT) AS $c"
          case c => s"$c AS $c"
        }
        // ORDER BY every output column: the fixture's nominal keys are NOT
        // unique (first fuzz run: lineitem (l_orderkey, l_linenumber) has
        // 11,785 duplicate groups, so "PK"-ordered LIMIT cut different
        // rows per engine). With all columns ordered, remaining ties are
        // full-row duplicates — any LIMIT cut yields the same multiset.
        s"""${cte}SELECT ${sel.mkString(", ")}
           |FROM $from
           |WHERE ${whereOf(rnd, t)}
           |${orderBy(cols)}
           |LIMIT ${200 + rnd.nextInt(800)}""".stripMargin
      case 1 => // single-table aggregation (+ optional HAVING, ± null-dense)
        val t = pick(rnd, baseTables)
        val (cte, from) = maybeNullDense(rnd, t)
        val nk = 1 + rnd.nextInt(2)
        val keys = (1 to nk).map(i => keyOf(rnd, t, "", s"k$i"))
        val aggs = (1 to 1 + rnd.nextInt(3)).map(i => aggOf(rnd, t, "", s"a$i"))
        val having =
          if (rnd.nextBoolean()) s"HAVING count(*) > ${rnd.nextInt(3)}" else ""
        val out = (1 to nk).map(i => s"k$i") ++ aggs.indices.map(i => s"a${i + 1}")
        s"""${cte}SELECT ${(keys ++ aggs).mkString(", ")}
           |FROM $from
           |WHERE ${whereOf(rnd, t)}
           |GROUP BY ${(1 to nk).mkString(", ")}
           |$having
           |${orderBy(out)}""".stripMargin
      case 2 => // equi-join aggregation
        val (l, r, on) = pick(rnd, joins)
        val k1 = keyOf(rnd, l, "t1.", "k1")
        val k2 = keyOf(rnd, r, "t2.", "k2")
        val aggs = (1 to 1 + rnd.nextInt(2)).map { i =>
          val (side, tq) = if (rnd.nextBoolean()) (l, "t1.") else (r, "t2.")
          aggOf(rnd, side, tq, s"a$i")
        }
        val out = Seq("k1", "k2") ++ aggs.indices.map(i => s"a${i + 1}")
        s"""SELECT $k1, $k2, ${aggs.mkString(", ")}
           |FROM ${l.name} t1 JOIN ${r.name} t2 ON $on
           |WHERE ${whereOf(rnd, l, "t1.")}
           |GROUP BY 1, 2
           |${orderBy(out)}""".stripMargin
      case 3 => // set op over two filtered projections of one table
        val t = pick(rnd, baseTables)
        val op = pick(rnd, Seq("UNION ALL", "INTERSECT", "EXCEPT"))
        val cols = t.pk ++ Seq(pick(rnd, t.cols).name)
        val sel = cols.distinct.map {
          case c if t.cols.find(_.name == c).get.kind == "int" =>
            s"CAST($c AS BIGINT) AS $c"
          case c => s"$c AS $c"
        }.mkString(", ")
        s"""SELECT * FROM (
           |  SELECT $sel FROM ${t.name} WHERE ${whereOf(rnd, t)}
           |  $op
           |  SELECT $sel FROM ${t.name} WHERE ${whereOf(rnd, t)}
           |) u
           |${orderBy(cols.distinct)}
           |LIMIT ${200 + rnd.nextInt(800)}""".stripMargin
      case 5 => // OUTER join aggregation: null extension + null-skipping aggs
        val (l, r, on) = pick(rnd, joins)
        val full = rnd.nextBoolean()
        val jt = if (full) "FULL JOIN" else "LEFT JOIN"
        // an extra ON predicate on the RIGHT side widens the null-extended
        // region (rows that matched the key but failed the residual)
        val onExtra =
          if (rnd.nextBoolean()) s" AND ${pred(rnd, r, "t2.")}" else ""
        val k1 = keyOf(rnd, l, "t1.", "k1")
        val k2 = keyOf(rnd, r, "t2.", "k2") // null-extended group key
        val rInt = pick(rnd, r.cols.filter(_.kind == "int")).name
        val aggs = Seq(
          "CAST(count(*) AS BIGINT) AS a1",
          // column-count SKIPS nulls — counts only matched rows
          s"CAST(count(t2.$rInt) AS BIGINT) AS a2",
          s"CAST(sum(t2.$rInt) AS BIGINT) AS a3")
        // a WHERE on the left would collapse FULL back to LEFT semantics —
        // only the LEFT variant takes one
        val where = if (full) "" else s"WHERE ${whereOf(rnd, l, "t1.")}"
        val out = Seq("k1", "k2", "a1", "a2", "a3")
        s"""SELECT $k1, $k2, ${aggs.mkString(", ")}
           |FROM ${l.name} t1 $jt ${r.name} t2 ON $on$onExtra
           |$where
           |GROUP BY 1, 2
           |${orderBy(out)}""".stripMargin
      case 6 => // correlated EXISTS / NOT EXISTS over a star edge
        val (l, r, on) = pick(rnd, joins)
        val neg = if (rnd.nextBoolean()) "NOT " else ""
        val extra = (0 until 1 + rnd.nextInt(2)).map(_ => pick(rnd, l.cols).name)
        val cols = (l.pk ++ extra).distinct
        val sel = cols.map {
          case c if l.cols.find(_.name == c).get.kind == "int" =>
            s"CAST(t1.$c AS BIGINT) AS $c"
          case c => s"t1.$c AS $c"
        }
        s"""SELECT ${sel.mkString(", ")}
           |FROM ${l.name} t1
           |WHERE ${whereOf(rnd, l, "t1.")}
           |  AND ${neg}EXISTS (SELECT 1 FROM ${r.name} t2
           |                    WHERE $on AND ${pred(rnd, r, "t2.")})
           |${orderBy(cols)}
           |LIMIT ${200 + rnd.nextInt(800)}""".stripMargin
      case 7 => // window frames beyond row_number (± null-dense)
        val t = pick(rnd, baseTables)
        val (cte, from) = maybeNullDense(rnd, t)
        val kc = pick(rnd, t.cols.filter(_.kind == "int"))
        val kexpr = s"${kc.name} % ${5 + rnd.nextInt(20)}"
        val v = pick(rnd, t.cols.filter(_.kind == "int")).name
        // EXPLICIT NULLS FIRST inside the window order: the engines'
        // default null placement in window ORDER BY differs, and the
        // null-dense mode makes that reachable
        val wOrd = t.cols.map(c => s"${c.name} ASC NULLS FIRST").mkString(", ")
        val fn = pick(rnd, Seq(
          "rank()",
          "dense_rank()",
          s"lag($v, 1)",
          s"sum($v) ", // running frame appended below
          "count(*) "))
        val frame = fn match {
          case f if f.startsWith("sum") =>
            f.trim + " OVER (PARTITION BY " + kexpr + s" ORDER BY $wOrd" +
              " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
          case f if f.startsWith("count") =>
            f.trim + " OVER (PARTITION BY " + kexpr + s" ORDER BY $wOrd" +
              " ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)"
          case f =>
            f + " OVER (PARTITION BY " + kexpr + s" ORDER BY $wOrd)"
        }
        val pkSel = t.pk.map(c => s"CAST($c AS BIGINT) AS $c").mkString(", ")
        val out = t.pk ++ Seq("k1", "w")
        s"""${cte}SELECT $pkSel,
           |       CAST($kexpr AS BIGINT) AS k1,
           |       CAST($frame AS BIGINT) AS w
           |FROM $from
           |WHERE ${whereOf(rnd, t)}
           |${orderBy(out)}
           |LIMIT ${200 + rnd.nextInt(800)}""".stripMargin
      case _ => // row_number window over a deterministic ordering
        val t = pick(rnd, baseTables)
        val part = keyOf(rnd, t, "", "k1")
        // The window ORDER BY runs over ALL table columns (nominal keys
        // are not unique — see case 0); remaining ties are full-row
        // duplicates, whose interchangeable rn assignments yield the same
        // output multiset. The outer ORDER BY covers every output column.
        val allCols = t.cols.map(_.name).mkString(", ")
        val pkSel = t.pk.map(c => s"CAST($c AS BIGINT) AS $c").mkString(", ")
        s"""SELECT * FROM (
           |  SELECT $pkSel, $part,
           |         CAST(row_number() OVER (PARTITION BY ${pick(rnd, t.cols.filter(c => c.kind == "str").map(_.name) :+ t.pk.head)}
           |                                 ORDER BY $allCols) AS BIGINT) AS rn
           |  FROM ${t.name}
           |  WHERE ${whereOf(rnd, t)}
           |) w
           |WHERE rn <= ${1 + rnd.nextInt(5)}
           |${orderBy(t.pk ++ Seq("k1", "rn"))}
           |LIMIT ${200 + rnd.nextInt(800)}""".stripMargin
    }

  /** Deterministic case list for (seed, n). */
  private[graft] def cases(seed: Long, n: Int): Seq[(String, String)] = {
    val rnd = new scala.util.Random(seed)
    (0 until n).map(i => (f"fz_$i%03d", genQuery(rnd)))
  }

  def main(args: Array[String]): Unit = {
    val seed = args.headOption.map(_.toLong).getOrElse(11L)
    val n = if (args.length > 1) args(1).toInt else 200
    val sfDir = if (args.length > 2) args(2) else "/root/testdata/sf0.01"
    val outDir = if (args.length > 3) args(3) else "/tmp/fuzz_out"
    val spark = Harness.session()
    // Register the fixture tables; events.ts goes through graft.Tables
    // (nanos → µs, matching DuckDB's own truncation) and is cast to the
    // session-UTC timestamp class so TIMESTAMP literals compare plainly.
    for (t <- Seq("region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "documents")) {
      Tables.table(spark, sfDir, t).createOrReplaceTempView(t)
    }
    Tables.events(spark, sfDir)
      .withColumn("ts", org.apache.spark.sql.functions.col("ts").cast("timestamp"))
      .createOrReplaceTempView("events")
    new java.io.File(outDir).mkdirs()
    var nFail = 0
    val all = cases(seed, n)
    all.foreach { case (name, sql) =>
      try spark.sql(sql).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        nFail += 1
        System.err.println(s"[fuzz] $name failed in Spark: ${e.getMessage}")
        System.err.println(sql)
      }
    }
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$outDir/oracle_sql.json"), Harness.jsonObject(all))
    println(s"[fuzz] seed=$seed n=$n sparkFailures=$nFail out=$outDir")
    println(s"[fuzz] grade with: python3 tools/check_oracle.py $sfDir $outDir")
    spark.stop()
  }
}
