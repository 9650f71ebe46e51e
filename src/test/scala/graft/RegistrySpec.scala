package graft

import graft.queries.Registry

/** Contract guards over the driver surface: the registry, its oracles, and
  * the coverage documentation stay in sync. */
class RegistrySpec extends SparkSpec {

  test("every registered query is named in COVERAGE.md") {
    val cov = scala.io.Source.fromFile("COVERAGE.md", "UTF-8").mkString
    val missing = Registry.queries.keySet.filterNot(cov.contains)
    assert(missing.isEmpty,
      s"COVERAGE.md does not mention: ${missing.toSeq.sorted.mkString(", ")}")
  }

  test("every query has a DuckDB oracle (0 rows-only checks)") {
    val missing = Registry.queries.keySet -- Registry.oracleSql.keySet
    assert(missing.isEmpty,
      s"queries without an oracle: ${missing.toSeq.sorted.mkString(", ")}")
  }

  test("INDEX.md's stated query count matches the registry") {
    // the same three-way-sync discipline COVERAGE.md gets: the reviewer
    // map's headline number must not drift from Registry.all.size (r11
    // shipped with a stale 379)
    val idx = scala.io.Source.fromFile("INDEX.md", "UTF-8").mkString
    val m = """Current board: \*\*(\d+) queries\*\*""".r.findFirstMatchIn(idx)
    assert(m.nonEmpty, "INDEX.md must state 'Current board: **N queries**'")
    assert(m.get.group(1).toInt == Registry.all.size,
      s"INDEX.md says ${m.get.group(1)} queries; registry has ${Registry.all.size}")
  }

  test("README.md's stated query count matches the registry") {
    // r12 ADVICE: README said 386 while the registry had 388 — the same
    // drift class INDEX.md already lints for, so README gets the lint too.
    val rd = scala.io.Source.fromFile("README.md", "UTF-8").mkString
    val m = """\((\d+) oracle-checked queries""".r.findFirstMatchIn(rd)
    assert(m.nonEmpty, "README.md must state '(N oracle-checked queries'")
    assert(m.get.group(1).toInt == Registry.all.size,
      s"README.md says ${m.get.group(1)} queries; registry has ${Registry.all.size}")
  }

  // Outputs that legitimately KEEP a wide decimal column, each with the
  // reason the driver's value hash still agrees: none today — every
  // unbounded-integer output (graph_hits scores, sample_pps cum_w, the
  // uint256 sums) projects the oracle-facing column as a decimal STRING,
  // because Spark DECIMAL(38,x) and DuckDB HUGEINT canonicalize
  // differently in some hash harnesses while the digit string is
  // representation-proof. Add a name here ONLY with a comment proving the
  // driver hash was observed green on the wide type.
  private val wideDecimalWhitelist: Set[String] = Set()

  test("no query output schema carries a driver-fragile wide decimal") {
    // The r8/r10 lesson, promoted to a compile-time-ish gate: a bare
    // DECIMAL(p>18) output column hash-mismatches in the driver harness
    // even when rows, schema, and DuckDB-typed values are all exact
    // (sample_pps went red the commit cum_w widened to DECIMAL(38,0)).
    // Building the DataFrame is enough — schemas resolve at plan time.
    val dir = "/root/testdata/sf0.001"
    val offenders = Registry.all
      .filterNot(q => wideDecimalWhitelist.contains(q.name))
      .flatMap { q =>
        val wide = q.fn(spark, dir).schema.fields.collect {
          case f if f.dataType.isInstanceOf[org.apache.spark.sql.types.DecimalType]
            && f.dataType.asInstanceOf[org.apache.spark.sql.types.DecimalType].precision > 18 =>
            s"${f.name}:${f.dataType.sql}"
        }
        if (wide.isEmpty) None else Some(s"${q.name}(${wide.mkString(", ")})")
      }
    assert(offenders.isEmpty,
      s"wide-decimal output columns (stringify them or whitelist with proof): ${offenders.mkString("; ")}")
  }

  // Outputs that legitimately keep a round(double, n)-produced DOUBLE
  // column, each with a measured grid-coarseness argument proving the two
  // engines cannot straddle a .5-scaled-unit boundary at any tested scale:
  // none today — the r11 sweep converted every such contract to integer
  // micro-units (round(x·10⁶) of the SAME double on both engines, or an
  // exact integer division where the ratio is integer/integer).
  private val roundedDoubleWhitelist: Set[String] = Set()

  test("no DOUBLE output column is produced by round(double, n) — the w6 divergence class") {
    // The sf10 gate's lesson (SCALE_r11.md §1), promoted to a lint:
    // Spark rounds a double via the exact decimal view (BigDecimal
    // HALF_UP), DuckDB via the x·10ⁿ double product — on dense value
    // grids they split (w6 disagreed on 1,209 of 15 M rows). Any output
    // contract still emitting round(<double>, n) AS a DOUBLE column is a
    // latent cross-engine red that sf0.01 cannot see. Walk each query's
    // analyzed plan: an Alias of DoubleType whose subtree rounds a double
    // and whose name survives to the output schema is an offender.
    import org.apache.spark.sql.catalyst.expressions.{Alias, RoundBase}
    import org.apache.spark.sql.types.DoubleType
    val dir = "/root/testdata/sf0.001"
    val offenders = Registry.all
      .filterNot(q => roundedDoubleWhitelist.contains(q.name))
      .flatMap { q =>
        val df = q.fn(spark, dir)
        val outDoubles =
          df.schema.fields.filter(_.dataType == DoubleType).map(_.name).toSet
        if (outDoubles.isEmpty) None
        else {
          val bad = df.queryExecution.analyzed.flatMap(_.expressions).flatMap {
            _.collect {
              case a: Alias if a.dataType == DoubleType
                  && outDoubles.contains(a.name)
                  && a.child.exists {
                    case r: RoundBase => r.children.head.dataType == DoubleType
                    case _ => false
                  } => a.name
            }
          }.toSet
          if (bad.isEmpty) None
          else Some(s"${q.name}(${bad.toSeq.sorted.mkString(", ")})")
        }
      }
    assert(offenders.isEmpty,
      "round(double, n) survives to a DOUBLE output column (convert to " +
        s"integer micro-units or whitelist with a grid argument): ${offenders.mkString("; ")}")
  }

  test("source lock: md5 digests go through queries.Md5, the word-shingle list has one definition") {
    val root = new java.io.File("src/main/scala/graft/queries")
    assert(root.isDirectory, s"run from the project root (no ${root.getAbsolutePath})")
    def text(f: java.io.File): String = {
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try src.mkString finally src.close()
    }
    val md5Offenders = root.listFiles().toSeq
      .filter(f => f.getName.endsWith(".scala") && f.getName != "Q.scala")
      .flatMap(f => text(f).linesIterator.zipWithIndex.collect {
        case (line, i) if line.contains("substring(md5(") => s"${f.getName}:${i + 1}"
      })
    assert(md5Offenders.isEmpty,
      s"use Md5.md5LongSql / md5HexSql / md5Hex: ${md5Offenders.mkString(", ")}")
    val q = text(new java.io.File(root, "Q.scala"))
    assert(q.contains("def md5LongSql("), "Q.scala must define Md5.md5LongSql")
    val shingleLists = java.util.regex.Pattern.quote("range(0, len(t) - 2)").r
      .findAllIn(text(new java.io.File(root, "LlmQueries.scala"))).size
    assert(shingleLists == 1,
      s"the word-shingle list is written $shingleLists times in LlmQueries.scala; use wordShinglesSql")
  }
}
