package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions._

/** The WKT front door (q138): parse grammar, the malformed-input null
  * contract, the st_as_text round trip, and the double-text exactness
  * the q138 oracle replay depends on. */
class WktSpec extends GraftSpec {
  import spark.implicits._

  private def parse(wkt: String): Row =
    Seq(wkt).toDF("w").select(stGeometryFromText($"w").as("g"))
      .head().getAs[Row]("g")

  test("POINT / LINESTRING / POLYGON parse into (gtype, xs, ys)") {
    val p = parse("POINT (3.5 -2.25)")
    assert(p.getString(0) == "POINT")
    assert(p.getSeq[Double](1) == Seq(3.5) && p.getSeq[Double](2) == Seq(-2.25))

    val l = parse("  linestring( 0 0 ,1.5 2 , -3e2 4.25 ) ")
    assert(l.getString(0) == "LINESTRING")
    assert(l.getSeq[Double](1) == Seq(0.0, 1.5, -300.0))
    assert(l.getSeq[Double](2) == Seq(0.0, 2.0, 4.25))

    val g = parse("POLYGON ((0 0, 4 0, 4 3, 0 0))")
    assert(g.getString(0) == "POLYGON")
    assert(g.getSeq[Double](1) == Seq(0.0, 4.0, 4.0, 0.0))
    assert(g.getSeq[Double](2) == Seq(0.0, 0.0, 3.0, 0.0))

    val e = parse("POINT EMPTY")
    assert(e.getString(0) == "POINT" && e.getSeq[Double](1).isEmpty)
  }

  test("malformed WKT -> null, case by case") {
    val bad = Seq(
      "POLYGON ((0 0, 1 1)",          // truncated
      "POLYGON ((0 0, 4 0, 4 3))",    // 3 points, unclosed
      "POLYGON ((0 0, 4 0, 4 3, 0 1))", // 4 points but first != last
      "POLYGON ((0 0, 4 0, 4 3, 0 0), (1 1, 2 1, 2 2, 1 1))", // hole ring
      "POINT (1 2 3)",                // Z coordinate
      "POINT (a b)",                  // non-numeric
      "LINESTRING (1 2)",             // one point
      "MULTIPOINT ((1 2))",           // outside the subset
      "POINT (1 2) x",                // trailing garbage
      "",                             // empty string
      "POINT")                        // tag only
    val got = bad.toDF("w")
      .select(sum(when(stGeometryFromText($"w").isNull, 1).otherwise(0)))
      .head().getLong(0)
    assert(got == bad.length, s"expected all ${bad.length} malformed inputs to parse to null")
    // and the well-formed neighbors of those cases do NOT null out
    assert(parse("POLYGON ((0 0, 4 0, 4 3, 0 0))") != null)
    assert(parse("LINESTRING (1 2, 3 4)") != null)
  }

  test("st_as_text is the exact inverse of st_geometry_from_text") {
    val canonical = Seq(
      "POINT (3.5 -2.25)",
      "LINESTRING (0.0 0.0, 1.5 2.0, -300.0 4.25)",
      "POLYGON ((0.0 0.0, 4.0 0.0, 4.0 3.0, 0.0 0.0))",
      "POINT EMPTY")
    val rt = canonical.toDF("w")
      .select($"w", stGeometryFromText($"w").as("g"))
      .select($"w", stAsText($"g.gtype", $"g.xs", $"g.ys").as("t"))
      .collect()
    rt.foreach(r => assert(r.getString(1) == r.getString(0),
      s"round trip changed '${r.getString(0)}' -> '${r.getString(1)}'"))
    // st_as_text rejects shapes outside the subset
    val badText = Seq(Tuple3("POLYGON", Seq(0.0, 1.0), Seq(0.0, 1.0)))
      .toDF("t", "xs", "ys")
      .select(stAsText($"t", $"xs", $"ys").isNull).head().getBoolean(0)
    assert(badText)
  }

  test("double text round trip is exact (the q138 oracle contract)") {
    // awkward doubles: accumulated float noise, negative zero, exponents
    val vals = Seq(-177.45000000000002, 0.1 + 0.2, -0.0, 1.0e-7, 178.49999999999997)
    val df = vals.toDF("x")
      .select($"x",
        stGeometryFromText(concat(lit("POINT ("), $"x".cast("string"),
          lit(" 0)"))).as("g"))
      .select($"x", element_at($"g.xs", 1).as("back"))
    df.collect().foreach { r =>
      assert(java.lang.Double.doubleToRawLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToRawLongBits(r.getDouble(1)),
        s"cast->parse not bit-exact for ${r.getDouble(0)}")
    }
  }

  test("SQL front door serves st_geometry_from_text / st_as_text") {
    val row = spark.sql("""
      SELECT g.gtype AS t, st_area(g.xs, g.ys) AS a,
             st_as_text(g.gtype, g.xs, g.ys) AS w,
             st_geometry_from_text('POINT(oops') IS NULL AS bad
      FROM (SELECT st_geometry_from_text('POLYGON ((0.0 0.0, 4.0 0.0, 4.0 3.0, 0.0 0.0))') AS g)
    """).head()
    assert(row.getString(0) == "POLYGON")
    assert(row.getDouble(1) == 6.0)
    assert(row.getString(2) == "POLYGON ((0.0 0.0, 4.0 0.0, 4.0 3.0, 0.0 0.0))")
    assert(row.getBoolean(3))
  }

  test("q138 runs on testdata: parser constants hold on every row") {
    val rows = graft.operators.Relational.q138(spark, sf)
    val agg = rows.agg(
      count(lit(1)),
      sum(when($"gtype" === "POLYGON" && $"n_pts" === 4 && $"rt_ok" && $"bad_is_null", 1)
        .otherwise(0)),
      min($"area")).head()
    assert(agg.getLong(0) > 0 && agg.getLong(0) == agg.getLong(1),
      "every row must parse as a closed 4-point POLYGON with exact text round trip")
    assert(agg.getDouble(2) >= 0.0)
  }

  test("q139 accessors honor each geometry kind's contract") {
    val rows = graft.operators.Relational.q139(spark, sf).cache()
    try {
      // every row lands in one of the three type names with a sane envelope
      assert(rows.filter(!$"geometry_type".isin(
        "ST_Point", "ST_LineString", "ST_Polygon")).isEmpty)
      assert(rows.filter($"xmin" > $"xmax" || $"ymin" > $"ymax").isEmpty)
      // points: single vertex, ST_X/ST_Y answer and equal the envelope;
      // closure predicates are null (Presto's linestring-only contract)
      val pts = rows.filter($"geometry_type" === "ST_Point")
      assert(pts.count() > 0)
      assert(pts.filter($"n_points" =!= 1 || $"st_x".isNull ||
        $"st_x" =!= $"xmin" || $"st_y" =!= $"ymin" ||
        $"is_closed".isNotNull || $"is_ring".isNotNull).isEmpty)
      // linestrings: ST_X null; the 4-point variant is a closed ring
      val lines = rows.filter($"geometry_type" === "ST_LineString")
      assert(lines.count() > 0)
      assert(lines.filter($"st_x".isNotNull || $"is_closed".isNull).isEmpty)
      assert(lines.filter($"n_points" === 4 && (!$"is_closed" || !$"is_ring")).isEmpty)
      // polygons: 4 parsed vertices, closure predicates null
      val polys = rows.filter($"geometry_type" === "ST_Polygon")
      assert(polys.count() > 0)
      assert(polys.filter($"n_points" =!= 4 || $"is_closed".isNotNull).isEmpty)
    } finally rows.unpersist()
  }

  test("holed polygons: area subtracts holes, containment honors them") {
    // 10x10 shell with a 2x2 hole; non-axis-aligned triangle hole too
    def area(w: String): Option[Double] =
      Option(spark.range(1).select(stAreaWkt(lit(w))).head().getAs[java.lang.Double](0))
        .map(_.doubleValue())
    def inside(w: String, x: Double, y: Double): Option[Boolean] =
      Option(spark.range(1).select(stContainsWkt(lit(w), lit(x), lit(y)))
        .head().getAs[java.lang.Boolean](0)).map(_.booleanValue())
    def holes(w: String): Option[Int] =
      Option(spark.range(1).select(stNumInteriorRings(lit(w)))
        .head().getAs[java.lang.Integer](0)).map(_.intValue())
    val shell = "(0 0, 10 0, 10 10, 0 10, 0 0)"
    val box = s"POLYGON ($shell)"
    val holed = s"POLYGON ($shell, (2 2, 4 2, 4 4, 2 4, 2 2))"
    val twoHoles = s"POLYGON ($shell, (2 2, 4 2, 4 4, 2 4, 2 2), (6 6, 8 6, 7 8, 6 6))"
    assert(area(box).contains(100.0))
    assert(area(holed).contains(96.0))
    assert(area(twoHoles).contains(94.0)) // triangle hole area 2
    assert(holes(box).contains(0) && holes(holed).contains(1) &&
      holes(twoHoles).contains(2))
    // containment: in shell, in hole, outside shell
    assert(inside(holed, 5.0, 5.0).contains(true))
    assert(inside(holed, 3.0, 3.0).contains(false)) // inside the hole
    assert(inside(holed, 11.0, 5.0).contains(false))
    assert(inside(box, 3.0, 3.0).contains(true))    // no hole there
    // POLYGON EMPTY: zero area, zero holes, contains nothing
    assert(area("POLYGON EMPTY").contains(0.0))
    assert(holes("POLYGON EMPTY").contains(0))
    assert(inside("POLYGON EMPTY", 0.0, 0.0).contains(false))
  }

  test("multipolygons: area sums parts, containment crosses parts, accessors split") {
    def row(w: String, x: Double, y: Double) = spark.range(1).select(
      stAreaWkt(lit(w)).as("a"), stContainsWkt(lit(w), lit(x), lit(y)).as("c"),
      stNumGeometries(lit(w)).as("ng"), stNumInteriorRings(lit(w)).as("nr")).head()
    val boxA = "((0 0, 10 0, 10 10, 0 10, 0 0))"
    val boxBHoled = "((100 0, 110 0, 110 10, 100 10, 100 0), (102 2, 104 2, 104 4, 102 4, 102 2))"
    val mp = s"MULTIPOLYGON ($boxA, $boxBHoled)"
    val r1 = row(mp, 5.0, 5.0)    // in part A
    assert(r1.getDouble(0) == 196.0) // 100 + 100 - 4
    assert(r1.getBoolean(1))
    assert(r1.getInt(2) == 2)
    assert(r1.isNullAt(3), "ST_NumInteriorRing is polygon-only (Presto)")
    assert(row(mp, 103.0, 3.0).getAs[Boolean]("c") == false) // part B's hole
    assert(row(mp, 105.0, 5.0).getAs[Boolean]("c") == true)  // part B proper
    assert(row(mp, 50.0, 5.0).getAs[Boolean]("c") == false)  // between parts
    // EMPTY: 0 area, 0 parts, contains nothing
    val re = row("MULTIPOLYGON EMPTY", 0.0, 0.0)
    assert(re.getDouble(0) == 0.0 && !re.getBoolean(1) && re.getInt(2) == 0)
    // plain POLYGON through the same accessors: 1 part, holes counted
    val rp = row(s"POLYGON $boxBHoled", 0.0, 0.0)
    assert(rp.getInt(2) == 1 && rp.getInt(3) == 1)
    // malformed multis -> null across the family
    Seq("MULTIPOLYGON ((0 0, 1 1))",          // ring not double-nested
        s"MULTIPOLYGON ($boxA",               // unclosed list
        s"MULTIPOLYGON ($boxA,)",             // dangling comma
        "MULTIPOLYGON (((0 0, 1 0, 1 1)))"    // unclosed ring
    ).foreach { w =>
      val r = row(w, 0.0, 0.0)
      assert(r.isNullAt(0) && r.isNullAt(1) && r.isNullAt(2), s"must be null: $w")
    }
    // SQL surface
    assert(spark.sql(s"SELECT st_num_geometries('$mp') AS n").head().getInt(0) == 2)
  }

  test("holed polygons: malformed text -> null, case by case") {
    def area(w: String) = spark.range(1).select(stAreaWkt(lit(w))).head().isNullAt(0)
    val shell = "(0 0, 10 0, 10 10, 0 10, 0 0)"
    Seq(
      "LINESTRING (0 0, 1 1)",                       // wrong tag
      s"POLYGON ($shell, (2 2, 4 2, 4 4, 2 4))",     // unclosed hole
      s"POLYGON ($shell, (2 2, 4 4, 2 2))",          // hole with < 4 pts
      s"POLYGON ($shell",                            // missing outer paren
      s"POLYGON ($shell) extra",                     // trailing garbage
      "POLYGON ((0 0 5, 1 0 5, 1 1 5, 0 0 5))",      // Z coordinates
      "POLYGON (())",                                // empty ring
      "POLYGON"                                      // bare tag
    ).foreach(w => assert(area(w), s"must be null: $w"))
    // all three kernels agree on the null contract
    val bad = s"POLYGON ($shell, (2 2, 4 2, 4 4, 2 4))"
    val r = spark.range(1).select(stAreaWkt(lit(bad)), stContainsWkt(lit(bad),
      lit(1.0), lit(1.0)), stNumInteriorRings(lit(bad))).head()
    assert(r.isNullAt(0) && r.isNullAt(1) && r.isNullAt(2))
    // SQL surface serves the family
    val viaSql = spark.sql(
      "SELECT st_area_wkt('POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0), (1 1, 2 1, 2 2, 1 2, 1 1))') AS a, " +
      "st_contains_wkt('POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))', 1.5, 1.5) AS c, " +
      "st_num_interior_rings('POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))') AS n").head()
    assert(viaSql.getDouble(0) == 15.0 && viaSql.getBoolean(1) && viaSql.getInt(2) == 0)
  }
}
