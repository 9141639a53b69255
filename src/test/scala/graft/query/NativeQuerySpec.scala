package graft.query

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Semantics of the Druid native-query JSON compiler. The resolver is
  * just name→DataFrame, so most tests run over in-memory frames; the
  * last tests prove that a compiled query over a real segment table
  * flows into the DSv2 scan's pushdowns (interval pruning, dictionary
  * filters, metadata time bounds) — the compiler emits declarative
  * plans, it never executes anything itself.
  */
class NativeQuerySpec extends AnyFunSuite {
  private lazy val spark = graft.SparkTestSession.spark

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  /** 8 rows, 4 days, two event types, a multi-value tags column. */
  private lazy val events: DataFrame = {
    import spark.implicits._
    Seq(
      ("2024-01-01 01:00:00", "click", 1L, 10.0, Seq("a", "b")),
      ("2024-01-01 02:00:00", "view", 2L, 20.0, Seq("b")),
      ("2024-01-02 01:00:00", "click", 3L, 30.0, Seq("a")),
      ("2024-01-02 02:00:00", "click", 1L, 40.0, Seq("c")),
      ("2024-01-03 01:00:00", "view", 2L, 50.0, Seq("a", "c")),
      ("2024-01-03 02:00:00", "view", 3L, 60.0, Seq("b")),
      ("2024-01-05 01:00:00", "click", 4L, 70.0, Seq("a")),
      ("2024-01-05 02:00:00", "error", 4L, 80.0, Seq("d")))
      .toDF("t", "event_type", "user_id", "value", "tags")
      .select(to_timestamp(col("t")).as("__time"), col("event_type"),
              col("user_id"), col("value"), col("tags"))
  }

  private def run(json: String): DataFrame =
    NativeQuery.run(json, _ => events)

  test("timeseries: day buckets, filter, filtered agg, post-agg, fill") {
    val out = run("""{
      "queryType": "timeseries", "dataSource": "events",
      "granularity": "day",
      "intervals": ["2024-01-01T00:00:00.000Z/2024-01-06T00:00:00.000Z"],
      "filter": {"type": "in", "dimension": "event_type",
                 "values": ["click", "view"]},
      "aggregations": [
        {"type": "count", "name": "n"},
        {"type": "doubleSum", "name": "total", "fieldName": "value"},
        {"type": "filtered", "filter":
          {"type": "selector", "dimension": "event_type", "value": "click"},
         "aggregator": {"type": "count", "name": "n_click"}}],
      "postAggregations": [
        {"type": "arithmetic", "name": "avg", "fn": "/",
         "fields": [{"type": "fieldAccess", "fieldName": "total"},
                    {"type": "fieldAccess", "fieldName": "n"}]}]
    }""").collect()
    // 5 day buckets (fill: Jan 4 has no rows; Jan 5's error row filtered)
    assert(out.length == 5)
    val jan1 = out(0)
    assert(jan1.getTimestamp(0) == ts("2024-01-01 00:00:00"))
    assert(jan1.getLong(1) == 2 && jan1.getDouble(2) == 30.0 &&
      jan1.getLong(3) == 1 && jan1.getDouble(4) == 15.0)
    val jan4 = out(3)
    assert(jan4.getLong(1) == 0, "count fills with 0")
    assert(jan4.isNullAt(2), "sum fills with null")
    assert(jan4.getDouble(4) == 0.0, "post-agg / by zero-count is 0 (Druid rule)")
  }

  test("timeseries: skipEmptyBuckets drops the empty day; descending orders") {
    val out = run("""{
      "queryType": "timeseries", "dataSource": "events",
      "granularity": {"type": "period", "period": "P1D"},
      "descending": true,
      "context": {"skipEmptyBuckets": true},
      "intervals": ["2024-01-01T00:00:00.000Z/2024-01-06T00:00:00.000Z"],
      "aggregations": [{"type": "count", "name": "n"}]
    }""").collect()
    assert(out.length == 4)
    assert(out.head.getTimestamp(0) == ts("2024-01-05 00:00:00"))
  }

  test("timeseries: granularity all returns the single aggregate row") {
    val out = run("""{
      "queryType": "timeseries", "dataSource": "events",
      "granularity": "all",
      "aggregations": [{"type": "longSum", "name": "s", "fieldName": "value"},
                       {"type": "doubleMax", "name": "mx", "fieldName": "value"}]
    }""").collect()
    assert(out.length == 1 && out.head.getLong(0) == 360L &&
      out.head.getDouble(1) == 80.0)
  }

  test("topN: numeric metric descending with dimension tie-break; inverted flips") {
    val json = """{
      "queryType": "topN", "dataSource": "events",
      "dimension": "event_type", "threshold": 2, "granularity": "all",
      "metric": %s,
      "aggregations": [{"type": "doubleSum", "name": "total", "fieldName": "value"}]
    }"""
    val top = run(json.format(""""total"""")).collect()
    assert(top.map(_.getString(0)).toSeq == Seq("click", "view"))
    assert(top.head.getDouble(1) == 150.0)
    val inv = run(json.format("""{"type": "inverted", "metric": "total"}""")).collect()
    assert(inv.map(_.getString(0)).toSeq == Seq("error", "view"))
  }

  test("groupBy: virtual column, having, limitSpec ordering") {
    val out = run("""{
      "queryType": "groupBy", "dataSource": "events", "granularity": "all",
      "virtualColumns": [{"type": "expression", "name": "odd_user",
                          "expression": "user_id % 2"}],
      "dimensions": ["event_type",
        {"type": "default", "dimension": "odd_user", "outputName": "odd"}],
      "aggregations": [{"type": "count", "name": "n"},
                       {"type": "longMax", "name": "mx", "fieldName": "user_id"}],
      "having": {"type": "greaterThan", "aggregation": "n", "value": 1},
      "limitSpec": {"type": "default", "limit": 10, "columns":
        [{"dimension": "n", "direction": "descending"}]}
    }""").collect()
    // groups with n>1: (click,1)=2 rows [users 1,3? no — odd: 1,3,1 → (click,odd=1) n=3], (view,0) n=1...
    // recompute: click users 1,3,1,4 → odd 1,1,1,0; view users 2,3,2 → odd 0,1,0; error 4 → 0
    // (click,1) n=3; (view,0) n=2; others n=1 → kept: those two, desc by n
    assert(out.map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq ==
      Seq(("click", 1L, 3L), ("view", 0L, 2L)))
    assert(out.head.getLong(3) == 3L)
  }

  test("groupBy with granularity buckets __time as a leading key") {
    val out = run("""{
      "queryType": "groupBy", "dataSource": "events", "granularity": "day",
      "dimensions": ["event_type"],
      "aggregations": [{"type": "count", "name": "n"}]
    }""").collect()
    assert(out.length == 6) // (day,type) pairs with rows, dim-sorted
    assert(out.head.getTimestamp(0) == ts("2024-01-01 00:00:00") &&
      out.head.getString(1) == "click")
  }

  test("scan: columns, bound filter, order, offset, limit") {
    val out = run("""{
      "queryType": "scan", "dataSource": "events",
      "columns": ["__time", "value"],
      "filter": {"type": "bound", "dimension": "value", "lower": "20",
                 "lowerStrict": true, "ordering": "numeric"},
      "order": "descending", "offset": 1, "limit": 3
    }""").collect()
    assert(out.map(_.getDouble(1)).toSeq == Seq(70.0, 60.0, 50.0))
  }

  test("like filter honors the escape character") {
    import spark.implicits._
    val df = Seq(("100%", 1L), ("100x", 2L), ("100", 3L))
      .toDF("v", "id")
      .withColumn("__time", to_timestamp(lit("2024-01-01 00:00:00")))
    def n(filter: String): Long = NativeQuery.run(s"""{
      "queryType": "timeseries", "dataSource": "t", "granularity": "all",
      "filter": $filter,
      "aggregations": [{"type": "count", "name": "n"}]}""", _ => df)
      .collect().head.getLong(0)
    // without escape, % is a wildcard: "100%" matches all three
    assert(n("""{"type": "like", "dimension": "v",
                 "pattern": "100%"}""") == 3)
    // escaped, it is the literal percent sign
    assert(n("""{"type": "like", "dimension": "v",
                 "pattern": "100!%", "escape": "!"}""") == 1)
  }

  test("scan orderBy column list sorts beyond __time") {
    val out = run("""{
      "queryType": "scan", "dataSource": "events",
      "columns": ["event_type", "value"],
      "orderBy": [{"columnName": "event_type", "order": "ascending"},
                  {"columnName": "value", "order": "descending"}],
      "limit": 3
    }""").collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
    assert(out == Seq(("click", 70.0), ("click", 40.0), ("click", 30.0)))
  }

  test("search: insensitive_contains over string and multi-value dims") {
    val out = run("""{
      "queryType": "search", "dataSource": "events",
      "searchDimensions": ["event_type", "tags"],
      "query": {"type": "insensitive_contains", "value": "C"}
    }""").collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(out.toSeq == Seq(
      ("event_type", "click", 4L), ("tags", "c", 2L)))
  }

  test("topN with a granularity computes per-bucket top-K, not a global one") {
    val out = run("""{
      "queryType": "topN", "dataSource": "events",
      "granularity": "day", "dimension": "event_type",
      "threshold": 1, "metric": "n",
      "aggregations": [{"type": "count", "name": "n"}]
    }""").collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSeq
    // per-day winners (count desc, dimension asc tie-break):
    // Jan1 click/view tie -> click; Jan2 click x2; Jan3 view x2;
    // Jan5 click/error tie -> click. A GLOBAL topN-1 would return a
    // single row — the bucket column is the proof.
    assert(out == Seq(
      (ts("2024-01-01 00:00:00"), "click", 1L),
      (ts("2024-01-02 00:00:00"), "click", 2L),
      (ts("2024-01-03 00:00:00"), "view", 2L),
      (ts("2024-01-05 00:00:00"), "click", 1L)))
    // threshold 2 keeps both of Jan1's tied values, ordered
    val two = run("""{
      "queryType": "topN", "dataSource": "events",
      "granularity": "day", "dimension": "event_type",
      "threshold": 2, "metric": "n",
      "intervals": ["2024-01-01T00:00:00.000Z/2024-01-02T00:00:00.000Z"],
      "aggregations": [{"type": "count", "name": "n"}]
    }""").collect().map(_.getString(1)).toSeq
    assert(two == Seq("click", "view"))
  }

  test("extractionFn: bucket, stringFormat, partial, searchQuery") {
    def dims(spec: String): Seq[String] = run(s"""{
      "queryType": "groupBy", "dataSource": "events", "granularity": "all",
      "dimensions": [{"type": "extraction", "dimension": "@DIM@",
        "outputName": "d", "extractionFn": $spec}],
      "aggregations": [{"type": "count", "name": "n"}]
    }""".replace("@DIM@", if (spec.contains("bucket")) "value" else "event_type"))
      .collect().map(r => if (r.isNullAt(0)) "<null>" else r.getString(0)).toSeq
    // bucket: values 10..80 into offset-5 buckets of 25 → bucket starts
    // 5/30/55/80 as double strings (lexicographic group order)
    assert(dims("""{"type": "bucket", "size": 25, "offset": 5}""") ==
      Seq("30.0", "5.0", "55.0", "80.0"))
    // stringFormat wraps; returnNull nullHandling passes nulls through
    assert(dims("""{"type": "stringFormat", "format": "[%s]"}""") ==
      Seq("[click]", "[error]", "[view]"))
    // partial keeps only values the regex finds a match in
    assert(dims("""{"type": "partial", "expr": "ick"}""") ==
      Seq("<null>", "click"))
    // searchQuery keeps values the search spec matches
    assert(dims("""{"type": "searchQuery",
      "query": {"type": "insensitive_contains", "value": "V"}}""") ==
      Seq("<null>", "view"))
  }

  test("unnest dataSource explodes the virtual column, honors unnestFilter") {
    val out = run("""{
      "queryType": "groupBy",
      "dataSource": {"type": "unnest",
        "base": "events",
        "virtualColumn": {"type": "expression", "name": "tag",
                          "expression": "tags"}},
      "granularity": "all",
      "dimensions": ["tag"],
      "aggregations": [{"type": "count", "name": "n"}]
    }""").collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out == Map("a" -> 4L, "b" -> 3L, "c" -> 2L, "d" -> 1L))
    // unnestFilter prunes unnested rows before the query runs
    val filtered = run("""{
      "queryType": "timeseries",
      "dataSource": {"type": "unnest",
        "base": "events",
        "virtualColumn": {"type": "expression", "name": "tag",
                          "expression": "tags"},
        "unnestFilter": {"type": "in", "dimension": "tag",
                         "values": ["a", "d"]}},
      "granularity": "all",
      "aggregations": [{"type": "count", "name": "n"}]
    }""").collect().head.getLong(0)
    assert(filtered == 5L)
    // a single-value expression unnests as a one-element array
    val single = run("""{
      "queryType": "timeseries",
      "dataSource": {"type": "unnest",
        "base": "events",
        "virtualColumn": {"type": "expression", "name": "et",
                          "expression": "event_type"}},
      "granularity": "all",
      "aggregations": [{"type": "count", "name": "n"}]
    }""").collect().head.getLong(0)
    assert(single == 8L)
  }

  test("duration granularity: fixed-ms buckets, origin shift, zero-fill spine") {
    // 12-hour buckets: events at 01:00/02:00 share the 00:00 bucket
    val out = run("""{
      "queryType": "timeseries", "dataSource": "events",
      "granularity": {"type": "duration", "duration": 43200000},
      "context": {"skipEmptyBuckets": true},
      "aggregations": [{"type": "count", "name": "n"}]
    }""").collect()
    // both daily events (01:00/02:00) share each day's 00:00 bucket
    assert(out.length == 4)
    assert(out.forall(_.getLong(1) == 2L))
    assert(out.head.getTimestamp(0) == ts("2024-01-01 00:00:00"))
    // origin shifts the boundary: from 06:00, the 01:00/02:00 events
    // fall in the PREVIOUS bucket starting 2023-12-31 18:00 — pre-
    // origin-aligned flooring must round DOWN, not toward zero
    val shifted = run("""{
      "queryType": "timeseries", "dataSource": "events",
      "granularity": {"type": "duration", "duration": 43200000,
                      "origin": "2024-01-01T06:00:00.000Z"},
      "context": {"skipEmptyBuckets": true},
      "aggregations": [{"type": "count", "name": "n"}]
    }""").collect()
    assert(shifted.head.getTimestamp(0) == ts("2023-12-31 18:00:00"))
    assert(shifted.head.getLong(1) == 2L)
    // dense fill: a bounded interval sprouts empty buckets with count 0
    val filled = run("""{
      "queryType": "timeseries", "dataSource": "events",
      "granularity": {"type": "duration", "duration": 43200000},
      "intervals": ["2024-01-01T00:00:00.000Z/2024-01-03T00:00:00.000Z"],
      "aggregations": [{"type": "count", "name": "n"}]
    }""").collect()
    assert(filled.length == 4) // 2 days / 12h
    assert(filled.map(_.getLong(1)).toSeq == Seq(2L, 0L, 2L, 0L))
    // a FIXED-length period with origin is the duration form: P1D from
    // 06:00 buckets identically to duration 86400000 with that origin
    val periodShift = run("""{
      "queryType": "timeseries", "dataSource": "events",
      "granularity": {"type": "period", "period": "P1D",
                      "origin": "2024-01-01T06:00:00.000Z"},
      "context": {"skipEmptyBuckets": true},
      "aggregations": [{"type": "count", "name": "n"}]
    }""").collect()
    assert(periodShift.head.getTimestamp(0) == ts("2023-12-31 06:00:00"))
  }

  test("calendar-period origin: monthly/quarterly lattices, tz, DST, clamp fail") {
    // P1M anchored at Jan-1 06:00: the 01:00/02:00 events of Jan 1
    // precede the origin time-of-day and fall in the DEC bucket
    val monthly = run("""{
      "queryType": "timeseries", "dataSource": "events",
      "granularity": {"type": "period", "period": "P1M",
                      "origin": "2024-01-01T06:00:00.000Z"},
      "context": {"skipEmptyBuckets": true},
      "aggregations": [{"type": "count", "name": "n"}]
    }""").collect()
    assert(monthly.length == 2)
    assert(monthly(0).getTimestamp(0) == ts("2023-12-01 06:00:00"))
    assert(monthly(0).getLong(1) == 2L)
    assert(monthly(1).getTimestamp(0) == ts("2024-01-01 06:00:00"))
    assert(monthly(1).getLong(1) == 6L)
    // P3M anchored mid-February: the lattice is Feb-15, May-15,
    // Aug-15, Nov-15, ... — month-ADD arithmetic, NOT a fixed 45-day
    // shift off quarter starts (which would land May-16). Jan events
    // sit in the Nov-15 bucket (one whole quarter before the origin).
    val quarterly = run("""{
      "queryType": "timeseries", "dataSource": "events",
      "granularity": {"type": "period", "period": "P3M",
                      "origin": "2024-02-15T00:00:00.000Z"},
      "context": {"skipEmptyBuckets": true},
      "aggregations": [{"type": "count", "name": "n"}]
    }""").collect()
    assert(quarterly.length == 1)
    assert(quarterly(0).getTimestamp(0) == ts("2023-11-15 00:00:00"))
    assert(quarterly(0).getLong(1) == 8L)
    // quarterly lattice sits at origin + k*3 months exactly: probe a
    // frame inside the May bucket (Jul-20 < Aug-15 => May-15 bucket)
    val probe = NativeQuery.run("""{
      "queryType": "timeseries", "dataSource": "events",
      "granularity": {"type": "period", "period": "P3M",
                      "origin": "2024-02-15T00:00:00.000Z"},
      "context": {"skipEmptyBuckets": true},
      "aggregations": [{"type": "count", "name": "n"}]
    }""", _ => {
      import spark.implicits._
      Seq("2024-07-20 12:00:00", "2024-08-15 00:00:00")
        .toDF("t").select(to_timestamp(col("t")).as("__time"))
    }).collect()
    assert(probe.map(_.getTimestamp(0)).toSeq ==
      Seq(ts("2024-05-15 00:00:00"), ts("2024-08-15 00:00:00")))
    // P1D at 06:00 America/Los_Angeles across the 2024-03-10 spring
    // forward: bucket starts hold local 06:00 — 14:00Z under PST,
    // 13:00Z under PDT — and an in-gap-morning event (10:00Z = 03:00
    // PDT, before 06:00 local) belongs to the PREVIOUS local day
    val dst = NativeQuery.run("""{
      "queryType": "timeseries", "dataSource": "events",
      "granularity": {"type": "period", "period": "P1D",
                      "timeZone": "America/Los_Angeles",
                      "origin": "2024-01-01T06:00:00.000-08:00"},
      "context": {"skipEmptyBuckets": true},
      "aggregations": [{"type": "count", "name": "n"}]
    }""", _ => {
      import spark.implicits._
      // UTC instants: Mar-9 20:00Z (=12:00 PST), Mar-10 10:00Z
      // (=03:00 PDT), Mar-10 20:00Z (=13:00 PDT), Mar-11 15:00Z
      Seq("2024-03-09 20:00:00", "2024-03-10 10:00:00",
          "2024-03-10 20:00:00", "2024-03-11 15:00:00")
        .toDF("t").select(to_timestamp(col("t")).as("__time"))
    }).collect()
    assert(dst.map(r => (r.getTimestamp(0), r.getLong(1))).toSeq == Seq(
      (ts("2024-03-09 14:00:00"), 2L),  // Mar-9 06:00 PST + the 03:00 PDT row
      (ts("2024-03-10 13:00:00"), 1L),  // Mar-10 06:00 PDT (23h local day)
      (ts("2024-03-11 13:00:00"), 1L))) // Mar-11 06:00 PDT
    // origin day-of-month 29+ on a month-based period: Joda clamps
    // the day PER BOUNDARY from the origin (Jan 31 -> Feb 29 in a
    // leap year -> Mar 31; never cumulative) — exact since round 9
    // (previously a loud compiler error)
    val clamp = NativeQuery.run("""{
      "queryType": "timeseries", "dataSource": "events",
      "granularity": {"type": "period", "period": "P1M",
                      "origin": "2024-01-31T00:00:00.000Z"},
      "context": {"skipEmptyBuckets": true},
      "aggregations": [{"type": "count", "name": "n"}]
    }""", _ => {
      import spark.implicits._
      Seq("2024-01-15 00:00:00",  // before Jan 31 -> Dec 31 bucket
          "2024-02-10 00:00:00",  // Jan 31 <= t < Feb 29 -> Jan 31
          "2024-03-31 12:00:00")  // past Mar 31 00:00 -> Mar 31
        .toDF("t").select(to_timestamp(col("t")).as("__time"))
    }).collect()
    assert(clamp.map(r => (r.getTimestamp(0), r.getLong(1))).toSeq == Seq(
      (ts("2023-12-31 00:00:00"), 1L),
      (ts("2024-01-31 00:00:00"), 1L),
      (ts("2024-03-31 00:00:00"), 1L)))
  }

  test("nested filtered aggregators conjoin their predicates") {
    val row = run("""{
      "queryType": "timeseries", "dataSource": "events",
      "granularity": "all",
      "aggregations": [
        {"type": "filtered", "name": "n_click_u1",
         "filter": {"type": "selector", "dimension": "event_type",
                    "value": "click"},
         "aggregator": {"type": "filtered",
           "filter": {"type": "equals", "column": "user_id",
                      "matchValueType": "LONG", "matchValue": 1},
           "aggregator": {"type": "count", "name": "inner"}}}]
    }""").collect().head
    // click AND user_id=1: rows at Jan1 01:00 and Jan2 02:00
    assert(row.getLong(0) == 2L)
  }

  test("search regex query spec and nested-field virtual column") {
    // regex search: find semantics over the dimension values
    val hits = run("""{
      "queryType": "search", "dataSource": "events",
      "searchDimensions": ["event_type"],
      "query": {"type": "regex", "pattern": "^(cl|er)"}
    }""").collect().map(r => (r.getString(1), r.getLong(2))).toSeq
    assert(hits == Seq(("click", 4L), ("error", 1L)))
    // nested-field virtual column extracts from a JSON string column
    import spark.implicits._
    val df = Seq(("""{"a": {"b": 7}}""", 1L), ("""{"a": {"b": 35}}""", 2L),
        ("""{"a": {}}""", 3L))
      .toDF("props", "id")
      .withColumn("__time", to_timestamp(lit("2024-01-01 00:00:00")))
    val row = NativeQuery.run("""{
      "queryType": "timeseries", "dataSource": "t", "granularity": "all",
      "virtualColumns": [{"type": "nested-field", "columnName": "props",
        "outputName": "ab", "path": "$.a.b", "expectedType": "LONG"}],
      "aggregations": [
        {"type": "longSum", "name": "total", "fieldName": "ab"},
        {"type": "count", "name": "n"}]
    }""", _ => df).collect().head
    assert(row.getLong(0) == 42L) // missing path nulls out, sum skips it
    assert(row.getLong(1) == 3L)
  }

  test("search with a granularity counts hits per time bucket") {
    val out = run("""{
      "queryType": "search", "dataSource": "events",
      "granularity": "day",
      "searchDimensions": ["event_type"],
      "query": {"type": "insensitive_contains", "value": "c"}
    }""").collect()
      .map(r => (r.getTimestamp(0), r.getString(2), r.getLong(3))).toSeq
    // "click" hits per day: Jan1 x1, Jan2 x2, Jan5 x1
    assert(out == Seq(
      (ts("2024-01-01 00:00:00"), "click", 1L),
      (ts("2024-01-02 00:00:00"), "click", 2L),
      (ts("2024-01-05 00:00:00"), "click", 1L)))
  }

  test("search sort spec picks the comparator hit values sort under") {
    def hits(sort: String): Seq[String] = run(s"""{
      "queryType": "search", "dataSource": "events",
      "virtualColumns": [{"type": "expression", "name": "ukey",
                          "expression": "concat('u', user_id * 5)"}],
      "searchDimensions": ["ukey"],
      "query": {"type": "insensitive_contains", "value": "u"}$sort
    }""").collect().map(_.getString(1)).toSeq
    // lexicographic default: u10 < u15 < u20 < u5
    assert(hits("") == Seq("u10", "u15", "u20", "u5"))
    // alphanumeric sort: digit runs compare numerically
    assert(hits(""", "sort": {"type": "alphanumeric"}""") ==
      Seq("u5", "u10", "u15", "u20"))
  }

  test("timeBoundary: both bounds and single-bound variants") {
    val both = run("""{"queryType": "timeBoundary", "dataSource": "events"}""")
      .collect().head
    assert(both.getTimestamp(0) == ts("2024-01-01 01:00:00"))
    assert(both.getTimestamp(1) == ts("2024-01-05 02:00:00"))
    val mx = run("""{"queryType": "timeBoundary", "dataSource": "events",
                     "bound": "maxTime"}""").collect().head
    assert(mx.getTimestamp(0) == ts("2024-01-05 02:00:00"))
  }

  test("filter zoo: like, regex, fragment, null, interval, not/or, expression") {
    def n(filter: String): Long = run(s"""{
      "queryType": "timeseries", "dataSource": "events",
      "granularity": "all", "filter": $filter,
      "aggregations": [{"type": "count", "name": "n"}]}""")
      .collect().head.getLong(0)
    assert(n("""{"type": "like", "dimension": "event_type", "pattern": "%ick"}""") == 4)
    assert(n("""{"type": "regex", "dimension": "event_type", "pattern": "^(view|error)$"}""") == 4)
    assert(n("""{"type": "search", "dimension": "event_type",
                 "query": {"type": "fragment", "values": ["ie", "w"]}}""") == 3)
    assert(n("""{"type": "not", "field":
                 {"type": "selector", "dimension": "event_type", "value": "click"}}""") == 4)
    assert(n("""{"type": "or", "fields": [
                 {"type": "selector", "dimension": "event_type", "value": "error"},
                 {"type": "equals", "column": "user_id", "matchValueType": "LONG",
                  "matchValue": 2}]}""") == 3)
    assert(n("""{"type": "interval", "dimension": "__time", "intervals":
                 ["2024-01-02T00:00:00Z/2024-01-03T00:00:00Z"]}""") == 2)
    assert(n("""{"type": "expression", "expression": "value > 50 AND user_id = 4"}""") == 2)
    assert(n("""{"type": "range", "column": "value", "matchValueType": "DOUBLE",
                 "lower": 30, "upper": 60, "upperOpen": true}""") == 3)
    // Joda-tolerant interval timestamps (real Druid accepts all of
    // these; Instant.parse alone rejects them): non-UTC offsets,
    // bare dates, zoneless local datetimes
    assert(n("""{"type": "interval", "dimension": "__time", "intervals":
                 ["2024-01-02T01:00:00.000+01:00/2024-01-03T02:00:00.000+02:00"]}""") == 2)
    assert(n("""{"type": "interval", "dimension": "__time", "intervals":
                 ["2024-01-02/2024-01-03"]}""") == 2)
    assert(n("""{"type": "interval", "dimension": "__time", "intervals":
                 ["2024-01-02T00:00:00/2024-01-03T00:00:00"]}""") == 2)
  }

  test("extraction dimension specs: substring, strlen, regex, timeFormat") {
    val out = run("""{
      "queryType": "groupBy", "dataSource": "events", "granularity": "all",
      "dimensions": [
        {"type": "extraction", "dimension": "event_type", "outputName": "e2",
         "extractionFn": {"type": "substring", "index": 0, "length": 2}},
        {"type": "extraction", "dimension": "event_type", "outputName": "len",
         "extractionFn": {"type": "strlen"}},
        {"type": "extraction", "dimension": "event_type", "outputName": "tail",
         "extractionFn": {"type": "regex", "expr": "c(.*)"}},
        {"type": "extraction", "dimension": "__time", "outputName": "day",
         "extractionFn": {"type": "timeFormat", "format": "yyyy-MM-dd"}}],
      "aggregations": [{"type": "count", "name": "n"}]
    }""").orderBy("day", "e2").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2),
                 r.getString(3), r.getLong(4)))
    // regex misses keep the original value (Druid replaceMissingValue=false)
    assert(out.contains(("cl", "5", "lick", "2024-01-01", 1L)))
    assert(out.contains(("vi", "4", "view", "2024-01-01", 1L)))
    assert(out.contains(("er", "5", "error", "2024-01-05", 1L)))
    // substring out of range -> null (Druid contract)
    val nulls = run("""{
      "queryType": "groupBy", "dataSource": "events", "granularity": "all",
      "dimensions": [
        {"type": "extraction", "dimension": "event_type", "outputName": "far",
         "extractionFn": {"type": "substring", "index": 40}}],
      "aggregations": [{"type": "count", "name": "n"}]
    }""").collect()
    assert(nulls.length == 1 && nulls.head.isNullAt(0))
    // replaceMissingValue substitutes on a miss
    val sub = run("""{
      "queryType": "groupBy", "dataSource": "events", "granularity": "all",
      "dimensions": [
        {"type": "extraction", "dimension": "event_type", "outputName": "m",
         "extractionFn": {"type": "regex", "expr": "z(.*)",
                          "replaceMissingValue": true,
                          "replaceMissingValueWith": "none"}}],
      "aggregations": [{"type": "count", "name": "n"}]
    }""").collect()
    assert(sub.length == 1 && sub.head.getString(0) == "none")
  }

  test("extraction: lookup map and cascade composition") {
    val out = run("""{
      "queryType": "groupBy", "dataSource": "events", "granularity": "all",
      "dimensions": [
        {"type": "extraction", "dimension": "event_type", "outputName": "kind",
         "extractionFn": {"type": "lookup", "retainMissingValue": true,
           "lookup": {"type": "map",
             "map": {"click": "engagement", "view": "engagement"}}}},
        {"type": "extraction", "dimension": "event_type", "outputName": "k3",
         "extractionFn": {"type": "cascade", "extractionFns": [
           {"type": "upper"},
           {"type": "substring", "index": 0, "length": 3}]}}],
      "aggregations": [{"type": "count", "name": "n"}]
    }""").orderBy("k3").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(out.toSeq == Seq(
      ("engagement", "CLI", 4L), ("error", "ERR", 1L),
      ("engagement", "VIE", 3L)))
    // unmapped without retain -> replaceMissingValueWith
    val repl = run("""{
      "queryType": "groupBy", "dataSource": "events", "granularity": "all",
      "dimensions": [
        {"type": "extraction", "dimension": "event_type", "outputName": "kind",
         "extractionFn": {"type": "lookup",
           "replaceMissingValueWith": "other",
           "lookup": {"type": "map", "map": {"click": "engagement"}}}}],
      "aggregations": [{"type": "count", "name": "n"}]
    }""").collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(repl == Map("engagement" -> 4L, "other" -> 4L))
    // registeredLookup: the named, session-registered form dashboards
    // send; retainMissingValue keeps unmapped values
    graft.sql.DruidLookups.register("nq_reg_kind", Map(
      "click" -> "engagement", "view" -> "engagement"))
    val reg = run("""{
      "queryType": "groupBy", "dataSource": "events", "granularity": "all",
      "dimensions": [
        {"type": "extraction", "dimension": "event_type", "outputName": "kind",
         "extractionFn": {"type": "registeredLookup", "lookup": "nq_reg_kind",
           "retainMissingValue": true}}],
      "aggregations": [{"type": "count", "name": "n"}]
    }""").collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(reg == Map("engagement" -> 7L, "error" -> 1L))
    // unregistered name fails loudly
    intercept[IllegalArgumentException](run("""{
      "queryType": "groupBy", "dataSource": "events", "granularity": "all",
      "dimensions": [
        {"type": "extraction", "dimension": "event_type", "outputName": "k",
         "extractionFn": {"type": "registeredLookup", "lookup": "nope"}}],
      "aggregations": [{"type": "count", "name": "n"}]
    }"""))
  }

  test("groupBy and topN on a multi-value dimension unnest per value") {
    // Druid groups an MV dimension by VALUE: tags a=4, b=3, c=2, d=1
    val g = run("""{
      "queryType": "groupBy", "dataSource": "events", "granularity": "all",
      "dimensions": ["tags"],
      "aggregations": [{"type": "count", "name": "n"}]
    }""").collect().map(r => (r.getString(0), r.getLong(1)))
    assert(g.toSeq == Seq(("a", 4L), ("b", 3L), ("c", 2L), ("d", 1L)))
    val t = run("""{
      "queryType": "topN", "dataSource": "events", "granularity": "all",
      "dimension": "tags", "threshold": 2, "metric": "n",
      "aggregations": [{"type": "count", "name": "n"}]
    }""").collect().map(r => (r.getString(0), r.getLong(1)))
    assert(t.toSeq == Seq(("a", 4L), ("b", 3L)))
  }

  test("columnComparison filter, dimSelector having, timeseries limit, Any aggs") {
    // columnComparison: rows where user_id stringifies to tags length?
    // use a virtual column twin to compare against event_type
    val cc = run("""{
      "queryType": "timeseries", "dataSource": "events",
      "granularity": "all",
      "virtualColumns": [{"type": "expression", "name": "et2",
                          "expression": "event_type"}],
      "filter": {"type": "columnComparison", "dimensions": ["event_type", "et2"]},
      "aggregations": [{"type": "count", "name": "n"}]
    }""").collect().head
    assert(cc.getLong(0) == 8L)
    // dimSelector having keeps only the named dimension value
    val hv = run("""{
      "queryType": "groupBy", "dataSource": "events", "granularity": "all",
      "dimensions": ["event_type"],
      "aggregations": [{"type": "count", "name": "n"}],
      "having": {"type": "dimSelector", "dimension": "event_type",
                 "value": "view"}
    }""").collect()
    assert(hv.map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("view", 3L)))
    // timeseries limit caps the bucket list
    val lim = run("""{
      "queryType": "timeseries", "dataSource": "events",
      "granularity": "day", "context": {"skipEmptyBuckets": true},
      "limit": 2,
      "aggregations": [{"type": "count", "name": "n"}]
    }""").collect()
    assert(lim.length == 2 && lim.head.getTimestamp(0) == ts("2024-01-01 00:00:00"))
    // Any aggregators pin to deterministic first-by-__time
    val any = run("""{
      "queryType": "groupBy", "dataSource": "events", "granularity": "all",
      "dimensions": ["event_type"],
      "aggregations": [{"type": "longAny", "name": "u", "fieldName": "user_id"},
                       {"type": "stringAny", "name": "su", "fieldName": "user_id"}]
    }""").collect().map(r => (r.getString(0), r.getLong(1), r.getString(2)))
    assert(any.toSeq == Seq(("click", 1L, "1"), ("error", 4L, "4"),
      ("view", 2L, "2")))
  }

  test("period granularity with timeZone buckets local calendar days") {
    // fixture times are 01:00/02:00 UTC = 17:00/18:00 previous day in
    // LA (UTC-8 in January): local-day buckets shift back one day and
    // come back as the UTC instants of local midnight (08:00Z)
    val out = run("""{
      "queryType": "timeseries", "dataSource": "events",
      "granularity": {"type": "period", "period": "P1D",
                      "timeZone": "America/Los_Angeles"},
      "context": {"skipEmptyBuckets": true},
      "aggregations": [{"type": "count", "name": "n"}]
    }""").collect()
    assert(out.map(r => (r.getTimestamp(0), r.getLong(1))).toSeq == Seq(
      (ts("2023-12-31 08:00:00"), 2L), (ts("2024-01-01 08:00:00"), 2L),
      (ts("2024-01-02 08:00:00"), 2L), (ts("2024-01-04 08:00:00"), 2L)))
    // groupBy path buckets identically
    val g = run("""{
      "queryType": "groupBy", "dataSource": "events",
      "granularity": {"type": "period", "period": "P1D",
                      "timeZone": "America/Los_Angeles"},
      "dimensions": ["event_type"],
      "aggregations": [{"type": "count", "name": "n"}]
    }""").collect()
    assert(g.head.getTimestamp(0) == ts("2023-12-31 08:00:00"))
    // an origin over a non-UTC period anchors the LOCAL lattice:
    // 06:00Z origin = 22:00 LA local, so the 17:00/18:00-local events
    // fall in the bucket starting the previous local 22:00 (06:00Z)
    val o = run("""{
      "queryType": "timeseries", "dataSource": "events",
      "granularity": {"type": "period", "period": "P1D",
                      "timeZone": "America/Los_Angeles",
                      "origin": "2024-01-01T06:00:00Z"},
      "context": {"skipEmptyBuckets": true},
      "aggregations": [{"type": "count", "name": "n"}]}""").collect()
    assert(o.head.getTimestamp(0) == ts("2023-12-31 06:00:00"))
    assert(o.head.getLong(1) == 2L)
  }

  test("doubleMean and first/last-by-__time aggregators; true filter") {
    val out = run("""{
      "queryType": "groupBy", "dataSource": "events",
      "granularity": "all",
      "dimensions": ["event_type"],
      "filter": {"type": "true"},
      "aggregations": [
        {"type": "doubleMean", "name": "avg_v", "fieldName": "value"},
        {"type": "doubleFirst", "name": "first_v", "fieldName": "value"},
        {"type": "stringLast", "name": "last_tag_user", "fieldName": "user_id"},
        {"type": "filtered",
         "filter": {"type": "bound", "dimension": "value", "lower": "35",
                    "ordering": "numeric"},
         "aggregator": {"type": "doubleFirst", "name": "first_big",
                        "fieldName": "value"}}]
    }""").collect().map(r =>
      (r.getString(0), r.getDouble(1), r.getDouble(2), r.getString(3),
       r.getDouble(4))).map(t => t._1 -> (t._2, t._3, t._4, t._5)).toMap
    // click values in time order: 10, 30, 40, 70 (users 1,3,1,4)
    val click = out("click")
    assert(click._1 == 37.5 && click._2 == 10.0)
    assert(click._3 == "4")     // last click user, stringified
    assert(click._4 == 40.0)    // first click value >= 35
    val view = out("view")      // 20, 50, 60 by users 2,2,3
    assert(view._2 == 20.0 && view._3 == "3" && view._4 == 50.0)
  }

  test("dimension filters honor an attached extractionFn") {
    def n(filter: String): Long = run(s"""{
      "queryType": "timeseries", "dataSource": "events",
      "granularity": "all", "filter": $filter,
      "aggregations": [{"type": "count", "name": "n"}]}""")
      .collect().head.getLong(0)
    // selector over substring(0,1): 'c' matches only click rows
    assert(n("""{"type": "selector", "dimension": "event_type",
      "value": "c", "extractionFn":
        {"type": "substring", "index": 0, "length": 1}}""") == 4L)
    // in over upper(): VIEW/ERROR
    assert(n("""{"type": "in", "dimension": "event_type",
      "values": ["VIEW", "ERROR"],
      "extractionFn": {"type": "upper"}}""") == 4L)
    // bound (numeric) over strlen(): length 5 = click/error
    assert(n("""{"type": "bound", "dimension": "event_type",
      "lower": "5", "ordering": "numeric",
      "extractionFn": {"type": "strlen"}}""") == 5L)
  }

  test("unsupported constructs fail loudly, not silently wrong") {
    intercept[IllegalArgumentException](run("""{"queryType": "movingAverage",
      "dataSource": "events"}"""))
    intercept[IllegalArgumentException](run("""{"queryType": "timeseries",
      "dataSource": "events", "granularity": "all",
      "filter": {"type": "spatial", "dimension": "x"},
      "aggregations": [{"type": "count", "name": "n"}]}"""))
    intercept[IllegalArgumentException](run("""{"queryType": "timeseries",
      "dataSource": "events", "granularity": "all",
      "aggregations": [{"type": "cardinality", "name": "n"}]}"""))
  }

  test("native filters reach the druid scan's pushdowns") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-nq").toString + "/t"
    (0 until 1000).map(i => (1704067200000L + i * 3600000L,
      if (i % 3 == 0) "click" else "view", i.toLong))
      .toDF("__time", "event_type", "user_id").coalesce(1)
      .write.format("druid").mode("overwrite").save(dir)

    val df = NativeQuery.run("""{
      "queryType": "timeseries", "dataSource": "t",
      "granularity": "all",
      "context": {"skipEmptyBuckets": true},
      "intervals": ["2024-01-01T00:00:00.000Z/2024-01-08T00:00:00.000Z"],
      "filter": {"type": "selector", "dimension": "event_type", "value": "click"},
      "aggregations": [{"type": "count", "name": "n"}]
    }""", _ => spark.read.format("druid").load(dir))
    assert(df.collect().head.getLong(0) == 56) // i in [0,168) with i%3==0
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("StrValues(") && plan.contains("click"),
      s"selector filter did not reach the scan:\n$plan")
    assert(plan.contains("TimeRange(1704067200000,"),
      s"interval did not reach the scan's time bounds:\n$plan")
  }

  test("join datasource: lookup right side broadcasts, prefixed columns resolve") {
    graft.sql.DruidLookups.register("nq_kind", Map(
      "click" -> "engagement", "view" -> "engagement"))
    val df = run("""{
      "queryType": "groupBy",
      "dataSource": {"type": "join",
        "left": "events",
        "right": {"type": "lookup", "lookup": "nq_kind"},
        "rightPrefix": "l.",
        "condition": "event_type == \"l.k\"",
        "joinType": "LEFT"},
      "granularity": "all",
      "virtualColumns": [{"type": "expression", "name": "kind",
                          "expression": "coalesce(`l.v`, 'other')"}],
      "dimensions": ["kind"],
      "aggregations": [{"type": "count", "name": "n"}]
    }""")
    assert(df.collect().map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("engagement", 7L), ("other", 1L)))
    // the small lookup side must broadcast: Druid's join execution model
    assert(df.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"),
      "lookup right side should plan as a broadcast hash join")
    // INNER drops the unmatched error row
    val inner = run("""{
      "queryType": "timeseries",
      "dataSource": {"type": "join",
        "left": "events",
        "right": {"type": "lookup", "lookup": "nq_kind"},
        "rightPrefix": "l.",
        "condition": "event_type == \"l.k\"",
        "joinType": "INNER"},
      "granularity": "all",
      "aggregations": [{"type": "count", "name": "n"}]
    }""")
    assert(inner.collect().head.getLong(0) == 7L)
  }

  test("query datasource: nested groupBy feeds the outer aggregate") {
    val df = run("""{
      "queryType": "groupBy",
      "dataSource": {"type": "query", "query": {
        "queryType": "groupBy", "dataSource": "events",
        "granularity": "day",
        "dimensions": ["event_type"],
        "aggregations": [{"type": "count", "name": "daily_n"}]}},
      "granularity": "all",
      "dimensions": ["event_type"],
      "aggregations": [
        {"type": "longSum", "name": "total", "fieldName": "daily_n"},
        {"type": "count", "name": "n_days"}]
    }""")
    assert(df.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq ==
      Seq(("click", 4L, 3L), ("error", 1L, 1L), ("view", 3L, 2L)))
  }

  test("query-datasource join right side broadcasts at bench-like scale") {
    // a fact table two orders of magnitude past the spec fixtures: the
    // join planner must still pick BHJ when the right side is a small
    // sub-aggregate (Druid's joinable-datasource execution model), not
    // fall back to a sort-merge shuffle of the fact side
    import spark.implicits._
    val fact = spark.range(100000)
      .select((col("id") % 97).as("k"), (col("id") % 5).cast("string").as("g"),
              col("id").cast("double").as("v"))
    val df = NativeQuery.run("""{
      "queryType": "groupBy",
      "dataSource": {"type": "join",
        "left": "fact",
        "right": {"type": "query", "query": {
          "queryType": "groupBy", "dataSource": "fact",
          "granularity": "all",
          "dimensions": ["g"],
          "aggregations": [{"type": "doubleSum", "name": "gv", "fieldName": "v"}]}},
        "rightPrefix": "r.",
        "condition": "g == \"r.g\"",
        "joinType": "INNER"},
      "granularity": "all",
      "dimensions": ["g"],
      "aggregations": [{"type": "count", "name": "n"},
        {"type": "doubleMax", "name": "share", "fieldName": "r.gv"}]
    }""", _ => fact)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"small sub-aggregate right side should broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      "query-datasource join must not shuffle the fact side")
    assert(df.collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      .sortBy(_._1) == (0 to 4).map(i => (i.toString, 20000L)))
  }

  test("union + inline datasources: aligned by name, null-filled") {
    val df = run("""{
      "queryType": "groupBy",
      "dataSource": {"type": "union", "dataSources": [
        "events",
        {"type": "inline",
         "columnNames": ["event_type", "value"],
         "columnTypes": ["STRING", "DOUBLE"],
         "rows": [["promo", 1.0], ["promo", 2.0]]}]},
      "granularity": "all",
      "dimensions": ["event_type"],
      "aggregations": [{"type": "count", "name": "n"},
        {"type": "doubleSum", "name": "total", "fieldName": "value"}]
    }""")
    val rows = df.collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(rows == Seq(("click", 4L, 150.0), ("error", 1L, 80.0),
      ("promo", 2L, 3.0), ("view", 3L, 130.0)))
  }

  test("subtotalsSpec: grouping sets in one Expand-fed aggregate") {
    val df = run("""{
      "queryType": "groupBy", "dataSource": "events",
      "granularity": "all",
      "dimensions": ["event_type"],
      "subtotalsSpec": [["event_type"], []],
      "aggregations": [{"type": "count", "name": "n"}]
    }""")
    val rows = df.collect().map(r => (Option(r.getString(0)), r.getLong(1))).toSeq
    assert(rows == Seq((None, 8L), (Some("click"), 4L),
      (Some("error"), 1L), (Some("view"), 3L)))
    // one pass: a single Expand node, never one scan per set
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("Expand"), s"expected grouping-sets Expand:\n$plan")
    assert(!plan.contains("Union"), s"subtotals must not re-scan per set:\n$plan")
  }

  test("join condition translation: string literals survive, && splits") {
    graft.sql.DruidLookups.register("nq_kind2", Map("click" -> "engagement"))
    // condition with a conjunction and a single-quoted literal containing ==
    val df = run("""{
      "queryType": "timeseries",
      "dataSource": {"type": "join",
        "left": "events",
        "right": {"type": "lookup", "lookup": "nq_kind2"},
        "rightPrefix": "j.",
        "condition": "event_type == \"j.k\" && \"j.v\" != 'a == b'",
        "joinType": "INNER"},
      "granularity": "all",
      "aggregations": [{"type": "count", "name": "n"}]
    }""")
    assert(df.collect().head.getLong(0) == 4L)
  }

  test("sketch aggregators: theta/quantiles/hll/cardinality build + finalize") {
    val out = run("""{
      "queryType": "groupBy", "dataSource": "events",
      "granularity": "all",
      "dimensions": ["event_type"],
      "aggregations": [
        {"type": "thetaSketch", "name": "theta_users", "fieldName": "user_id"},
        {"type": "quantilesDoublesSketch", "name": "vq", "fieldName": "value"},
        {"type": "HLLSketchBuild", "name": "hll_users",
         "fieldName": "user_id", "round": true},
        {"type": "cardinality", "name": "card_tuple", "byRow": true,
         "round": true, "fields": ["event_type", "user_id"]},
        {"type": "cardinality", "name": "card_union", "round": true,
         "fields": ["event_type", "user_id"]}],
      "postAggregations": [
        {"type": "thetaSketchEstimate", "name": "theta_est",
         "field": {"type": "fieldAccess", "fieldName": "theta_users"}},
        {"type": "quantilesDoublesSketchToQuantile", "name": "p50",
         "field": {"type": "fieldAccess", "fieldName": "vq"}, "fraction": 0.5}]
    }""").collect()
    // click: users {1,3,4}, values (10,30,40,70); view: users {2,3},
    // values (20,50,60); error: user {4}, value (80)
    val byType = out.map(r => r.getString(0) -> r).toMap
    // finalized thetaSketch column = estimate (double)
    assert(byType("click").getDouble(1) == 3.0)
    assert(byType("view").getDouble(1) == 2.0)
    assert(byType("error").getDouble(1) == 1.0)
    // finalized quantiles sketch = stream length n
    assert(byType("click").getLong(2) == 4L)
    // rounded HLL estimate (long)
    assert(byType("click").getLong(3) == 3L)
    // cardinality byRow: distinct (event_type, user_id) tuples per group
    assert(byType("click").getLong(4) == 3L)
    // cardinality by value: distinct values across both fields
    // (1 event_type string + the user ids)
    assert(byType("click").getLong(5) == 4L)
    // post-aggs over the RAW sketches
    assert(byType("click").getDouble(6) == 3.0)   // theta_est
    assert(byType("click").getDouble(7) == 30.0)  // p50 (inclusive rank 2)
    assert(byType("view").getDouble(7) == 50.0)
  }

  test("theta set-op post-aggs over filtered sketch aggregators") {
    val row = run("""{
      "queryType": "timeseries", "dataSource": "events",
      "granularity": "all",
      "aggregations": [
        {"type": "filtered",
         "filter": {"type": "selector", "dimension": "event_type", "value": "click"},
         "aggregator": {"type": "thetaSketch", "name": "click_users",
                        "fieldName": "user_id"}},
        {"type": "filtered",
         "filter": {"type": "selector", "dimension": "event_type", "value": "view"},
         "aggregator": {"type": "thetaSketch", "name": "view_users",
                        "fieldName": "user_id"}}],
      "postAggregations": [
        {"type": "thetaSketchEstimate", "name": "n_both",
         "field": {"type": "thetaSketchSetOp", "name": "i", "func": "INTERSECT",
           "fields": [{"type": "fieldAccess", "fieldName": "click_users"},
                      {"type": "fieldAccess", "fieldName": "view_users"}]}},
        {"type": "thetaSketchEstimate", "name": "n_any",
         "field": {"type": "thetaSketchSetOp", "name": "u", "func": "UNION",
           "fields": [{"type": "fieldAccess", "fieldName": "click_users"},
                      {"type": "fieldAccess", "fieldName": "view_users"}]}}]
    }""").collect().head
    // click users {1,3,4}, view users {2,3}
    assert(row.getDouble(0) == 3.0) // click_users finalized
    assert(row.getDouble(1) == 2.0) // view_users finalized
    assert(row.getDouble(2) == 1.0) // intersect {3}
    assert(row.getDouble(3) == 4.0) // union {1,2,3,4}
  }

  test("context.finalize=false keeps raw mergeable sketch blobs") {
    val df = run("""{
      "queryType": "timeseries", "dataSource": "events",
      "granularity": "all",
      "context": {"finalize": false},
      "aggregations": [
        {"type": "thetaSketch", "name": "users", "fieldName": "user_id"}]
    }""")
    assert(df.schema("users").dataType ==
      org.apache.spark.sql.types.BinaryType)
    // the blob round-trips through the estimate function
    graft.sql.DruidSqlCompat.register(spark)
    assert(df.select(expr("theta_sketch_estimate(users)")).collect()
      .head.getDouble(0) == 4.0)
  }

  test("segmentMetadata: merged per-column analysis, one pass") {
    val out = run("""{
      "queryType": "segmentMetadata", "dataSource": "events"
    }""").collect()
    val byCol = out.map(r => r.getString(0) -> r).toMap
    assert(byCol.keySet ==
      Set("__time", "event_type", "user_id", "value", "tags"))
    val et = byCol("event_type")
    assert(et.getString(1) == "STRING" && !et.getBoolean(2))
    assert(et.getLong(3) == 3L) // click/view/error
    assert(et.getString(4) == "click" && et.getString(5) == "view")
    val tags = byCol("tags")
    assert(tags.getString(1) == "STRING" && tags.getBoolean(2))
    assert(tags.getLong(3) == 4L) // a b c d
    val time = byCol("__time")
    assert(time.getString(1) == "LONG")
    assert(time.isNullAt(3)) // numerics report null cardinality
    assert(out.forall(_.getLong(6) == 8L)) // numRows on every row
    // toInclude list + empty analysisTypes: schema-only answer
    val slim = run("""{
      "queryType": "segmentMetadata", "dataSource": "events",
      "analysisTypes": [],
      "toInclude": {"type": "list", "columns": ["user_id", "value"]}
    }""").collect()
    assert(slim.map(_.getString(0)).toSeq == Seq("user_id", "value"))
    assert(slim.forall(r => r.isNullAt(3) && r.isNullAt(4) && r.isNullAt(5)))
  }

  test("dataSourceMetadata returns maxIngestedEventTime") {
    val row = run("""{
      "queryType": "dataSourceMetadata", "dataSource": "events"
    }""").collect().head
    assert(row.getTimestamp(0) == ts("2024-01-05 02:00:00"))
  }

  test("Druid expression dialect in virtualColumns, filters, and join conditions") {
    // the wire dialect a real client sends: timestamp_floor, &&, ==,
    // case_searched — none of it is valid Spark SQL
    val out = run("""{
      "queryType": "groupBy", "dataSource": "events",
      "granularity": "all",
      "virtualColumns": [
        {"type": "expression", "name": "day",
         "expression": "timestamp_format(timestamp_floor(__time, 'P1D'), 'yyyy-MM-dd')"},
        {"type": "expression", "name": "kind",
         "expression": "case_searched(event_type == 'click', 'c', event_type == 'view', 'v', 'other')"}],
      "filter": {"type": "expression",
                 "expression": "value > 15 && strlen(event_type) >= 4"},
      "dimensions": ["day", "kind"],
      "aggregations": [{"type": "count", "name": "n"}]
    }""").collect()
    // rows with value>15 and |event_type|>=4: all but the 10.0 click
    assert(out.map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq ==
      Seq(("2024-01-01", "v", 1L), ("2024-01-02", "c", 2L),
          ("2024-01-03", "v", 2L), ("2024-01-05", "c", 1L),
          ("2024-01-05", "other", 1L)))
  }

  test("native timeBoundary answers from segment metadata (no decode)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-nqtb").toString + "/t"
    (0 until 100).map(i => (1704067200000L + i * 1000L, i.toLong))
      .toDF("__time", "n").coalesce(1)
      .write.format("druid").mode("overwrite").save(dir)
    val df = NativeQuery.run(
      """{"queryType": "timeBoundary", "dataSource": "t"}""",
      _ => spark.read.format("druid").load(dir))
    assert(df.collect().head.getTimestamp(0).getTime == 1704067200000L)
    // complete min/max(__time) pushdown: no Spark-side HashAggregate
    assert(!df.queryExecution.executedPlan.toString.contains("HashAggregate"),
      "timeBoundary should answer from interval metadata")
  }

  test("bound orderings: alphanumeric compares digit runs numerically, strlen by length") {
    def n(filter: String): Long = run(s"""{
      "queryType": "timeseries", "dataSource": "events",
      "granularity": "all",
      "virtualColumns": [{"type": "expression", "name": "ukey",
                          "expression": "concat('u', user_id * 5)"}],
      "filter": $filter,
      "aggregations": [{"type": "count", "name": "n"}]}""")
      .collect().head.getLong(0)
    // ukey values: u5(user1 x2), u10(user2 x2), u15(user3 x2), u20(user4 x2).
    // Alphanumeric lower bound "u10": admits u10/u15/u20, REJECTS u5
    // (numerically 5 < 10) — lexicographic would instead admit u5
    // ("u5" > "u10") — so the count proves the comparator.
    assert(n("""{"type": "bound", "dimension": "ukey", "lower": "u10",
                 "ordering": "alphanumeric"}""") == 6)
    assert(n("""{"type": "bound", "dimension": "ukey", "lower": "u10",
                 "ordering": "lexicographic"}""") == 8)
    // leading zeros compare equal to the stripped number: u010 >= u10
    assert(n("""{"type": "bound", "dimension": "ukey", "lower": "u010",
                 "ordering": "alphanumeric"}""") == 6)
    // strlen: length first, then lexicographic. len("abcde")=5 admits
    // click/error (len 5) and rejects view (len 4).
    assert(n("""{"type": "bound", "dimension": "event_type",
                 "lower": "abcde", "ordering": "strlen"}""") == 5)
    // version: Maven ordering — lower bound "u7.5" admits u10/u15/u20
    // (version 10 > 7.5's major 7) and rejects u5; lexicographic would
    // instead reject u10/u15/u20 ("u1.."/"u2.." < "u7.5")
    assert(n("""{"type": "bound", "dimension": "ukey", "lower": "u7.5",
                 "ordering": "version"}""") == 6)
    // Druid also serializes the comparator as an OBJECT — the
    // {"type": ...} form must not silently fall back to lexicographic
    assert(n("""{"type": "bound", "dimension": "ukey", "lower": "u7.5",
                 "ordering": {"type": "version"}}""") == 6)
    // legacy boolean alphaNumeric flag (pre-`ordering` wire format)
    assert(n("""{"type": "bound", "dimension": "ukey", "lower": "u10",
                 "alphaNumeric": true}""") == 6)
    // unsupported orderings still fail loudly instead of silently
    // returning lexicographic rows
    val e = intercept[IllegalArgumentException] {
      n("""{"type": "bound", "dimension": "event_type", "lower": "a",
            "ordering": "natural"}""")
    }
    assert(e.getMessage.contains("comparator 'natural'"))
  }

  test("spatial filter: rectangular and radius bounds; polygon fails loudly") {
    def n(filter: String): Long = run(s"""{
      "queryType": "timeseries", "dataSource": "events",
      "granularity": "all",
      "virtualColumns": [{"type": "expression", "name": "coord",
        "expression": "concat(cast(user_id, 'STRING'), ',', cast(value, 'STRING'))"}],
      "filter": $filter,
      "aggregations": [{"type": "count", "name": "n"}]}""")
      .collect().head.getLong(0)
    // points (user_id, value): (1,10) (2,20) (3,30) (1,40) (2,50) (3,60) (4,70) (4,80)
    assert(n("""{"type": "spatial", "dimension": "coord",
      "bound": {"type": "rectangular", "minCoords": [2, 20],
                "maxCoords": [3, 55]}}""") == 3) // (2,20) (3,30) (2,50)
    assert(n("""{"type": "spatial", "dimension": "coord",
      "bound": {"type": "radius", "coords": [3, 30], "radius": 10.1}}""") == 2)
    // (3,30) itself and (2,20): d^2=101 <= 10.1^2=102.01; (1,40) just
    // misses at d^2=104
    // a 2-vertex "polygon" is degenerate and rejected
    val e = intercept[IllegalArgumentException] {
      n("""{"type": "spatial", "dimension": "coord",
        "bound": {"type": "polygon", "abscissa": [0,1], "ordinate": [0,1]}}""")
    }
    assert(e.getMessage.contains("polygon"))
  }

  test("spatial polygon bound: even-odd ray cast, concave shapes, edge points") {
    // synthetic points on an integer grid so the expected membership
    // is hand-checkable
    import spark.implicits._
    def countIn(points: Seq[(Double, Double)], xs: Seq[Double],
                ys: Seq[Double]): Long = {
      val df = points.zipWithIndex
        .map { case ((x, y), i) => (s"$x,$y", i.toLong) }
        .toDF("coord", "id")
        .withColumn("__time", to_timestamp(lit("2024-01-01 00:00:00")))
      NativeQuery.run(s"""{
        "queryType": "timeseries", "dataSource": "t", "granularity": "all",
        "filter": {"type": "spatial", "dimension": "coord",
          "bound": {"type": "polygon",
                    "abscissa": [${xs.mkString(",")}],
                    "ordinate": [${ys.mkString(",")}]}},
        "aggregations": [{"type": "count", "name": "n"}]
      }""", _ => df).collect().head.getLong(0)
    }
    // unit square (0,0)-(10,10): inside, outside, and boundary points.
    // Boundary asymmetry of the even-odd arithmetic: at py=0 the
    // strict yi<py check fails for both bottom-adjacent edges (no
    // crossing — out), at py=10 the left edge spans [0,10) exclusive
    // of neither end under `yi<py && yj>=py` and crosses once (in) —
    // the same asymmetry Druid's PolygonBound arithmetic has.
    val square = (Seq(0.0, 10.0, 10.0, 0.0), Seq(0.0, 0.0, 10.0, 10.0))
    assert(countIn(Seq((5.0, 5.0)), square._1, square._2) == 1, "interior")
    assert(countIn(Seq((15.0, 5.0)), square._1, square._2) == 0, "outside right")
    assert(countIn(Seq((5.0, -1.0)), square._1, square._2) == 0, "below")
    assert(countIn(Seq((5.0, 0.0)), square._1, square._2) == 0, "bottom edge out")
    assert(countIn(Seq((5.0, 10.0)), square._1, square._2) == 1, "top edge in")
    // concave dart: (1,2) (13,2) (13,30) (7,15) (1,30) — the notch
    // descends to (7,15), so (7,20) sits in the notch (OUTSIDE) while
    // (3,20) and (11,20) flank it inside; ray casting must handle the
    // double crossing
    val dart = (Seq(1.0, 13.0, 13.0, 7.0, 1.0), Seq(2.0, 2.0, 30.0, 15.0, 30.0))
    assert(countIn(Seq((3.0, 20.0)), dart._1, dart._2) == 1, "left lobe")
    assert(countIn(Seq((11.0, 20.0)), dart._1, dart._2) == 1, "right lobe")
    assert(countIn(Seq((7.0, 20.0)), dart._1, dart._2) == 0, "inside the notch")
    assert(countIn(Seq((7.0, 10.0)), dart._1, dart._2) == 1, "below the notch tip")
    // malformed coordinates don't error, they just don't match
    assert(countIn(Seq((5.0, 5.0)), square._1, square._2) +
      NativeQuery.run("""{
        "queryType": "timeseries", "dataSource": "t", "granularity": "all",
        "filter": {"type": "spatial", "dimension": "coord",
          "bound": {"type": "polygon", "abscissa": [0,10,10,0],
                    "ordinate": [0,0,10,10]}},
        "aggregations": [{"type": "count", "name": "n"}]
      }""", _ => Seq(("garbage", 1L), ("1", 2L), (null: String, 3L))
        .toDF("coord", "id")
        .withColumn("__time", to_timestamp(lit("2024-01-01 00:00:00"))))
        .collect().head.getLong(0) == 1)
  }

  test("limitSpec dimensionOrder and topN dimension metric honor StringComparators") {
    val groupBy = """{
      "queryType": "groupBy", "dataSource": "events", "granularity": "all",
      "virtualColumns": [{"type": "expression", "name": "ukey",
                          "expression": "concat('u', user_id * 5)"}],
      "dimensions": ["ukey"],
      "aggregations": [{"type": "count", "name": "n"}],
      "limitSpec": {"type": "default", "columns": [%s]}
    }"""
    // alphanumeric dimensionOrder: u5 < u10 < u15 < u20 (numeric runs)
    val alpha = run(groupBy.format(
      """{"dimension": "ukey", "direction": "ascending",
          "dimensionOrder": "alphanumeric"}""")).collect()
    assert(alpha.map(_.getString(0)).toSeq == Seq("u5", "u10", "u15", "u20"))
    // without dimensionOrder: the column's natural (string) order
    val lex = run(groupBy.format("""{"dimension": "ukey"}""")).collect()
    assert(lex.map(_.getString(0)).toSeq == Seq("u10", "u15", "u20", "u5"))
    // topN dimension metric with an alphanumeric ordering takes the
    // numerically-first dimension values
    val top = run("""{
      "queryType": "topN", "dataSource": "events", "granularity": "all",
      "virtualColumns": [{"type": "expression", "name": "ukey",
                          "expression": "concat('u', user_id * 5)"}],
      "dimension": "ukey", "threshold": 2,
      "metric": {"type": "dimension", "ordering": "alphanumeric"},
      "aggregations": [{"type": "count", "name": "n"}]
    }""").collect()
    assert(top.map(_.getString(0)).toSeq == Seq("u5", "u10"))
  }

  test("greatest/least post-aggregators over aggregates and constants") {
    val row = run("""{
      "queryType": "timeseries", "dataSource": "events",
      "granularity": "all",
      "aggregations": [
        {"type": "doubleSum", "name": "total", "fieldName": "value"},
        {"type": "count", "name": "n"}],
      "postAggregations": [
        {"type": "doubleGreatest", "name": "g", "fields": [
          {"type": "fieldAccess", "fieldName": "total"},
          {"type": "constant", "value": 500}]},
        {"type": "doubleLeast", "name": "l", "fields": [
          {"type": "fieldAccess", "fieldName": "total"},
          {"type": "constant", "value": 500}]},
        {"type": "longGreatest", "name": "gl", "fields": [
          {"type": "fieldAccess", "fieldName": "n"},
          {"type": "constant", "value": 3}]}]
    }""").collect().head
    // total = 360.0 over 8 rows
    assert(row.getDouble(row.fieldIndex("g")) == 500.0)
    assert(row.getDouble(row.fieldIndex("l")) == 360.0)
    assert(row.getLong(row.fieldIndex("gl")) == 8L)
  }

  test("topN legacy alphaNumeric metric and previousStop pagination") {
    def top(metric: String): Seq[String] = run(s"""{
      "queryType": "topN", "dataSource": "events", "granularity": "all",
      "virtualColumns": [{"type": "expression", "name": "ukey",
                          "expression": "concat('u', user_id * 5)"}],
      "dimension": "ukey", "threshold": 2,
      "metric": $metric,
      "aggregations": [{"type": "count", "name": "n"}]
    }""").collect().map(_.getString(0)).toSeq
    // ukeys: u5 u10 u15 u20 — alphaNumeric ascending starts at u5
    assert(top("""{"type": "alphaNumeric"}""") == Seq("u5", "u10"))
    // previousStop pages past u10 UNDER THE COMPARATOR: alphanumeric
    // keeps u15/u20 (numerically > 10) and drops u5 (numerically < 10,
    // even though "u5" > "u10" lexicographically)
    assert(top("""{"type": "alphaNumeric", "previousStop": "u10"}""") ==
      Seq("u15", "u20"))
    assert(top("""{"type": "dimension", "ordering": "alphanumeric",
                   "previousStop": "u10"}""") == Seq("u15", "u20"))
    assert(top("""{"type": "lexicographic", "previousStop": "u15"}""") ==
      Seq("u20", "u5")) // lexicographic: "u20" < "u5", both after "u15"
  }

  test("filtered dimension specs: listFiltered/regexFiltered/prefixFiltered") {
    def groups(spec: String): Map[String, Long] = run(s"""{
      "queryType": "groupBy", "dataSource": "events", "granularity": "all",
      "dimensions": [$spec],
      "aggregations": [{"type": "count", "name": "n"}]}""")
      .collect().map(r => (if (r.isNullAt(0)) "<null>" else r.getString(0))
        -> r.getLong(1)).toMap
    // tags per row: [a,b] [b] [a] [c] [a,c] [b] [a] [d]
    // whitelist {a,b}: rows emptied to [] report the null group
    assert(groups("""{"type": "listFiltered",
      "delegate": {"type": "default", "dimension": "tags", "outputName": "tag"},
      "values": ["a", "b"]}""") ==
      Map("a" -> 4L, "b" -> 3L, "<null>" -> 2L))
    // blacklist flips the survivors
    assert(groups("""{"type": "listFiltered",
      "delegate": {"type": "default", "dimension": "tags", "outputName": "tag"},
      "values": ["a", "b"], "isWhitelist": false}""") ==
      Map("c" -> 2L, "d" -> 1L, "<null>" -> 5L))
    // regex and prefix variants
    assert(groups("""{"type": "regexFiltered",
      "delegate": {"type": "default", "dimension": "tags", "outputName": "tag"},
      "pattern": "[cd]"}""") ==
      Map("c" -> 2L, "d" -> 1L, "<null>" -> 5L))
    assert(groups("""{"type": "prefixFiltered",
      "delegate": {"type": "default", "dimension": "tags", "outputName": "tag"},
      "prefix": "b"}""") ==
      Map("b" -> 3L, "<null>" -> 5L))
    // on a SINGLE-value dimension an unmatched value nulls out
    assert(groups("""{"type": "prefixFiltered",
      "delegate": {"type": "default", "dimension": "event_type",
                   "outputName": "et"},
      "prefix": "c"}""") ==
      Map("click" -> 4L, "<null>" -> 4L))
    // extraction delegates fail loudly (Druid filters the delegate's
    // OUTPUT; a silent pre-extraction filter would group differently)
    val e = intercept[IllegalArgumentException] {
      groups("""{"type": "listFiltered",
        "delegate": {"type": "extraction", "dimension": "tags",
          "outputName": "t",
          "extractionFn": {"type": "upper"}},
        "values": ["A"]}""")
    }
    assert(e.getMessage.contains("delegate"))
  }

  test("filtered dimension specs leave the SOURCE column intact for aggregators") {
    // a prefixFiltered dimension over event_type plus a filtered
    // aggregator SELECTING on event_type: Druid filters only the
    // dimension selector's output — the aggregator must still see the
    // raw values (a clobbered source column would count 0 views)
    val rows = run("""{
      "queryType": "groupBy", "dataSource": "events", "granularity": "all",
      "dimensions": [{"type": "prefixFiltered",
        "delegate": {"type": "default", "dimension": "event_type",
                     "outputName": "et"},
        "prefix": "c"}],
      "aggregations": [
        {"type": "count", "name": "n"},
        {"type": "filtered", "filter": {"type": "selector",
          "dimension": "event_type", "value": "view"},
         "aggregator": {"type": "count", "name": "n_view"}}]
    }""").collect().map(r =>
      (if (r.isNullAt(0)) "<null>" else r.getString(0),
        r.getLong(1), r.getLong(2))).toSeq
    // null group = the 3 view + 1 error rows, of which 3 are views
    assert(rows == Seq(("<null>", 4L, 3L), ("click", 4L, 0L)))
    // two specs over the SAME dimension: the filtered one must not
    // steal or clobber the plain one's values
    val pair = run("""{
      "queryType": "groupBy", "dataSource": "events", "granularity": "all",
      "dimensions": [
        {"type": "listFiltered",
         "delegate": {"type": "default", "dimension": "event_type",
                      "outputName": "only_click"},
         "values": ["click"]},
        {"type": "default", "dimension": "event_type", "outputName": "et"}],
      "aggregations": [{"type": "count", "name": "n"}]
    }""").collect().map(r =>
      (if (r.isNullAt(0)) "<null>" else r.getString(0), r.getString(1),
        r.getLong(2))).toSet
    assert(pair == Set(("click", "click", 4L), ("<null>", "error", 1L),
      ("<null>", "view", 3L)))
  }

  test("dimension spec outputType casts the grouped value like Druid") {
    val out = run("""{
      "queryType": "groupBy", "dataSource": "events", "granularity": "all",
      "dimensions": [{"type": "default", "dimension": "user_id",
                      "outputName": "uid", "outputType": "STRING"}],
      "aggregations": [{"type": "count", "name": "n"}]
    }""")
    assert(out.schema("uid").dataType ==
      org.apache.spark.sql.types.StringType)
    assert(out.collect().map(_.getString(0)).toSeq == Seq("1", "2", "3", "4"))
  }

  test("timeseries context.grandTotal appends the combined row last (null timestamp)") {
    val out = run("""{
      "queryType": "timeseries", "dataSource": "events",
      "granularity": "day",
      "context": {"skipEmptyBuckets": true, "grandTotal": true},
      "aggregations": [
        {"type": "count", "name": "n"},
        {"type": "doubleSum", "name": "total", "fieldName": "value"}]
    }""").collect()
    assert(out.length == 5) // 4 day buckets + the grand-total row
    assert(out.take(4).forall(!_.isNullAt(0)), "bucket rows keep timestamps")
    val total = out.last
    assert(total.isNullAt(0), "grand total carries a null timestamp, last")
    assert(total.getLong(1) == 8L && total.getDouble(2) == 360.0)
  }

  test("variance aggregator (sample + population) and stddev post-aggregator") {
    val row = run("""{
      "queryType": "timeseries", "dataSource": "events",
      "granularity": "all",
      "aggregations": [
        {"type": "variance", "name": "v_samp", "fieldName": "value"},
        {"type": "variance", "name": "v_pop", "fieldName": "value",
         "estimator": "population"}],
      "postAggregations": [
        {"type": "stddev", "name": "sd", "fieldName": "v_samp"}]
    }""").collect().head
    // values 10..80 step 10: mean 45, sum sq dev 4200
    assert(row.getDouble(0) == 600.0) // 4200/7 — Druid's default (sample)
    assert(row.getDouble(1) == 525.0) // 4200/8 — estimator "population"
    assert(math.abs(row.getDouble(2) - math.sqrt(600.0)) < 1e-12)
  }

  test("variance of a single-row group is 0 like Druid's estimator; empty stays null") {
    val row = run("""{
      "queryType": "timeseries", "dataSource": "events",
      "granularity": "all",
      "aggregations": [
        {"type": "filtered", "filter": {"type": "selector",
          "dimension": "event_type", "value": "error"},
         "aggregator": {"type": "variance", "name": "v1", "fieldName": "value"}},
        {"type": "filtered", "filter": {"type": "selector",
          "dimension": "event_type", "value": "no_such"},
         "aggregator": {"type": "variance", "name": "v0", "fieldName": "value"}}]
    }""").collect().head
    assert(row.getDouble(0) == 0.0, "one-row sample variance is 0, not NULL")
    assert(row.isNullAt(1), "zero-row variance stays null")
  }

  test("spatial filter skips malformed coordinate values instead of erroring") {
    import spark.implicits._
    val df = Seq(("1,2", 1L), ("5", 2L), ("5,abc", 3L), ("2,2", 4L),
        (null: String, 5L))
      .toDF("coord", "id")
      .withColumn("__time", to_timestamp(lit("2024-01-01 00:00:00")))
    val out = NativeQuery.run("""{
      "queryType": "timeseries", "dataSource": "t", "granularity": "all",
      "filter": {"type": "spatial", "dimension": "coord",
        "bound": {"type": "rectangular", "minCoords": [0, 0],
                  "maxCoords": [10, 10]}},
      "aggregations": [{"type": "count", "name": "n"}]
    }""", _ => df).collect().head
    // (1,2) and (2,2) match; "5" (too few coords), "5,abc", and null
    // simply don't — no ANSI runtime error
    assert(out.getLong(0) == 2)
  }

  test("columnComparison matches both-null rows (null-safe equality)") {
    import spark.implicits._
    val df = Seq[(String, String)](
      ("a", "a"), ("a", "b"), (null, null), ("c", null), (null, "c"))
      .toDF("x", "y")
      .withColumn("__time", to_timestamp(lit("2024-01-01 00:00:00")))
    val out = NativeQuery.run("""{
      "queryType": "timeseries", "dataSource": "t",
      "granularity": "all",
      "filter": {"type": "columnComparison", "dimensions": ["x", "y"]},
      "aggregations": [{"type": "count", "name": "n"}]
    }""", _ => df).collect().head
    // ('a','a') and (null,null) match; one-sided nulls don't
    assert(out.getLong(0) == 2L)
  }

  test("cardinality byRow hashes nulls positionally — ('a',null) != (null,'a')") {
    import spark.implicits._
    val df = Seq[(String, String)](
      ("a", null), (null, "a"), ("a", null), ("b", "b"))
      .toDF("x", "y")
      .withColumn("__time", to_timestamp(lit("2024-01-01 00:00:00")))
    val out = NativeQuery.run("""{
      "queryType": "timeseries", "dataSource": "t",
      "granularity": "all",
      "aggregations": [{"type": "cardinality", "name": "card",
                        "fields": ["x", "y"], "byRow": true, "round": true}]
    }""", _ => df).collect().head
    // three distinct tuples; concat_ws null-skipping would collapse
    // ('a',null) and (null,'a') into one
    assert(out.getLong(0) == 3L)
  }

  test("run needs no active session: graft's functions go to the resolved data's session") {
    val data = events
    val json = """{"queryType": "timeseries", "dataSource": "events",
      "granularity": "day", "aggregations": [{"type": "count", "name": "n"}]}"""
    @volatile var out: scala.util.Try[Array[(Timestamp, Long)]] = null
    // a thread with neither an active nor a default session, whose
    // resolver hands back a live session's data
    val worker = new Thread(() => {
      org.apache.spark.sql.SparkSession.clearActiveSession()
      out = scala.util.Try(NativeQuery.run(json, _ => data).collect()
        .map(r => r.getTimestamp(0) -> r.getLong(1)))
    })
    org.apache.spark.sql.SparkSession.clearDefaultSession()
    try { worker.start(); worker.join() }
    finally org.apache.spark.sql.SparkSession.setDefaultSession(spark)
    assert(out.get.sortBy(_._1.getTime).toSeq == Seq(ts("2024-01-01 00:00:00") -> 2L,
      ts("2024-01-02 00:00:00") -> 2L, ts("2024-01-03 00:00:00") -> 2L,
      ts("2024-01-05 00:00:00") -> 2L))
  }
}
