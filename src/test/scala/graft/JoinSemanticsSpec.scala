package graft

import graft.ops.JoinQueries

/** Edge-case semantics the testdata cannot exercise (no equal-timestamp
  * collisions exist in events at test SF — verified): the as-of join's
  * strict `<` tie rule.
  */
class JoinSemanticsSpec extends SparkSpecBase {

  test("as-of join excludes an equal-timestamp click (strict <)") {
    import spark.implicits._
    val events = Seq(
      // user 1: click at 1000, purchase at 1000 (tie) → no match
      (1L, 1L, "click", 1000L),
      (10L, 1L, "purchase", 1000L),
      // user 2: click at 900, purchase at 1000 → matches 900;
      // a later click at 1000 ties with nothing
      (2L, 2L, "click", 900L),
      (20L, 2L, "purchase", 1000L),
      // user 3: purchase with no prior click → null
      (30L, 3L, "purchase", 500L),
      // user 4: two clicks before the purchase → most recent wins
      (4L, 4L, "click", 100L),
      (5L, 4L, "click", 200L),
      (40L, 4L, "purchase", 300L)
    ).toDF("event_id", "user_id", "event_type", "ms")
    val got = JoinQueries.asOfLastClick(events)
      .collect()
      .map(r => r.getLong(0) -> Option(r.get(2)).map(_.asInstanceOf[Long]))
      .toMap
    assert(got(10L).isEmpty)        // tie: equal-ms click must NOT match
    assert(got(20L).contains(900L))
    assert(got(30L).isEmpty)
    assert(got(40L).contains(200L)) // most recent prior click
  }

  test("columnstore probe: a two-type-5-row tie elects the binary-order-smaller name") {
    // r13 ADVICE: the index_name tiebreaker assumes the Spark window
    // sort and the DuckDB oracle's ORDER BY agree on string order in
    // the (currently unreachable) two-type-5-rows tie. Both engines
    // default to BINARY (UTF-8 byte) collation, where uppercase sorts
    // before lowercase ('I' 0x49 < 'i' 0x69) — this fixture pins the
    // Spark side's elected winner on a case-differing tie, so any
    // future engine/collation change (e.g. a session collation that
    // case-folds) trips a spec instead of silently diverging from the
    // oracle.
    import spark.implicits._
    val tables = Seq((1L, "t1"), (2L, "t2")).toDF("object_id", "table_name")
    val indexes = Seq(
      (1L, 5, "ix_cs_a"), (1L, 5, "IX_CS_A"), // the tie, differing only by case
      (2L, 1, "pk_t2"))                        // no type-5 row → sentinel
      .toDF("object_id", "index_type", "index_name")
    val got = graft.ops.JoinQueries.columnstoreElect(tables, indexes)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got == Map("t1" -> "IX_CS_A", "t2" -> "none"),
      s"binary collation elects the uppercase spelling; got $got")
  }
}
