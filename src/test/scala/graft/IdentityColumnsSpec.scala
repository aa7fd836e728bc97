package graft

import graft.medallion.{GraftTable, TxLog}
import org.apache.spark.sql.functions._

/** Identity columns (`identity.<col> = <next>` — Delta's GENERATED
  * ALWAYS AS IDENTITY): omitted on append, engine-assigned
  * monotonically-unique BIGINTs (gaps allowed); the allocation advances
  * `next` in the SAME commit as the data, provided values refuse, and
  * `syncIdentity` re-bases after an overwrite from log stats alone. */
class IdentityColumnsSpec extends SparkSpec {
  import spark.implicits._

  private def freshTable(tag: String): GraftTable = {
    val dir = new java.io.File(
      s"target/tmp/ident_${tag}_${java.util.UUID.randomUUID().toString.take(8)}")
    new GraftTable(dir.getAbsolutePath)
  }

  test("appends allocate unique increasing ids; next advances transactionally") {
    val t = freshTable("alloc")
    t.append(Seq((0L, "seed")).toDF("id", "v"))
    t.delete(spark, "id", Some(0L), Some(0L))
    t.setProperty("identity.id", "100")
    t.append(Seq.fill(50)("a").toDF("v"))
    val first = t.read(spark).select("id").collect().map(_.getLong(0))
    assert(first.length === 50 && first.distinct.length === 50)
    assert(first.min >= 100L, s"ids start at the declared base: ${first.min}")
    val nextAfter1 = t.properties("identity.id").toLong
    assert(nextAfter1 > first.max, "next must clear the allocated range")
    t.append(Seq.fill(30)("b").toDF("v"))
    val all = t.read(spark).select("id").collect().map(_.getLong(0))
    assert(all.length === 80 && all.distinct.length === 80,
      "ranges from successive appends must never overlap")
    assert(t.read(spark).filter(col("v") === "b")
      .agg(min("id")).head().getLong(0) >= nextAfter1)
  }

  test("a batch providing the identity column refuses (ALWAYS semantics)") {
    val t = freshTable("always")
    t.append(Seq((1L, "a")).toDF("id", "v"))
    t.setProperty("identity.id", "10")
    val err = intercept[IllegalArgumentException] {
      t.append(Seq((99L, "x")).toDF("id", "v")) }
    assert(err.getMessage.contains("IDENTITY"))
    assert(t.read(spark).count() === 1L)
  }

  test("property validation and ALTER guards") {
    val t = freshTable("guards")
    t.append(Seq((1L, "a", 0.5)).toDF("id", "v", "d"))
    intercept[IllegalArgumentException] {
      t.setProperty("identity.v", "1") } // string column
    intercept[IllegalArgumentException] {
      t.setProperty("identity.id", "soon") } // non-integer start
    intercept[IllegalArgumentException] {
      t.setProperty("identity.nope", "1") }
    t.setProperty("identity.id", "1")
    intercept[IllegalArgumentException] {
      t.setProperty("generated.id", "id + 1") } // identity excludes generated
    intercept[IllegalArgumentException] { t.dropColumn("id") }
    intercept[IllegalArgumentException] { t.renameColumn("id", "pk") }
    t.unsetProperty("identity.id")
    t.renameColumn("id", "pk") // released
  }

  test("a mergeSchema widen that omits the identity column still allocates") {
    val t = freshTable("widen")
    t.append(Seq((1L, "a")).toDF("id", "v"))
    t.setProperty("identity.id", "5")
    // widened batch: new trailing column, identity omitted
    t.append(Seq(("b", 3.5)).toDF("v", "score"), mergeSchema = true, maxRetries = 20)
    val rows = t.read(spark).orderBy("id").collect()
    assert(rows.length === 2)
    assert(rows.last.getLong(0) >= 5L, "widen batch got an allocated id")
    assert(rows.last.getDouble(2) === 3.5)
    assert(rows.head.isNullAt(2), "pre-widen rows null-backfill")
    assert(t.properties("identity.id").toLong > rows.last.getLong(0))
  }

  test("overwrite is the escape hatch; syncIdentity re-bases from log stats") {
    val t = freshTable("sync")
    t.append(Seq((1L, "a")).toDF("id", "v"))
    t.setProperty("identity.id", "2")
    t.append(Seq("b", "c").toDF("v"))
    // reshape with explicit ids far above the allocator
    t.overwrite(Seq((5000L, "x"), (7000L, "y")).toDF("id", "v"))
    val next = t.syncIdentity("id")
    assert(next === 7001L, s"sync must clear the live maximum, got $next")
    t.append(Seq("z").toDF("v"))
    val zId = t.read(spark).filter(col("v") === "z").head().getLong(0)
    assert(zId >= 7001L, s"post-sync allocation must not collide: $zId")
    assert(t.read(spark).select("id").collect().map(_.getLong(0))
      .distinct.length === 3)
  }

  test("identity appearing MID-append is detected (stage→commit race)") {
    // A concurrent setProperty('identity.id') lands after this append
    // staged its files (which PROVIDE id): the commit loop must re-read
    // identity columns at the live head and refuse ALWAYS semantics
    // rather than commit values that skip `next` advancement.
    val t = freshTable("midrace")
    t.append(Seq((1L, "a")).toDF("id", "v"))
    val racer = new GraftTable(t.tablePath)
    t.beforePublishHook = () => {
      t.beforePublishHook = () => () // one-shot: the restage must not re-race
      racer.setProperty("identity.id", "1000")
    }
    val err = intercept[IllegalArgumentException] {
      t.append(Seq((99L, "x")).toDF("id", "v")) }
    assert(err.getMessage.contains("IDENTITY"))
    assert(t.read(spark).count() === 1L, "the racing append must not commit")

    // ...and a mid-race batch NOT providing the column restages and
    // allocates (the benign shape of the same race)
    val t2 = freshTable("midrace2")
    t2.append(Seq((1L, "a")).toDF("id", "v"))
    val racer2 = new GraftTable(t2.tablePath)
    t2.beforePublishHook = () => {
      t2.beforePublishHook = () => ()
      racer2.setProperty("identity.id", "500")
    }
    t2.append(Seq("b", "c").toDF("v"), mergeSchema = true, 20)
    val ids = t2.read(spark).select("id").collect().map(_.getLong(0)).sorted
    assert(ids.length === 3 && ids.distinct.length === 3)
    assert(ids.filter(_ >= 500L).length === 2,
      s"the restaged batch must allocate from the new base: ${ids.mkString(",")}")
    assert(t2.properties("identity.id").toLong > ids.max)
  }

  test("identity appearing MID-append is detected on the streaming door too") {
    // the same race through the txn-ledger append: the commit attempt
    // re-reads the head's identity columns and refuses the provided id
    val t = freshTable("midrace_txn")
    t.append(Seq((1L, "a")).toDF("id", "v"))
    val racer = new GraftTable(t.tablePath)
    t.beforePublishHook = () => {
      t.beforePublishHook = () => ()
      racer.setProperty("identity.id", "1000")
    }
    val err = intercept[IllegalArgumentException] {
      t.appendIdempotent(Seq((99L, "x")).toDF("id", "v"), "app", 0L) }
    assert(err.getMessage.contains("IDENTITY"))
    assert(t.read(spark).count() === 1L, "the racing append must not commit")
    assert(!t.snapshot().txns.contains("app"), "nor record its batch")
  }

  // every door an append reaches the table through holds ALWAYS
  // semantics: a provided id refuses with nothing committed, an omitted
  // one allocates at or above `next` and moves `next` past it. The one
  // door that stages bytes before its commit cannot allocate, so it
  // refuses both, naming the column.
  graft.WriteDoors.all.foreach { door =>
    test(s"${door.name}: provided ids refuse, omitted ids allocate from next") {
      val target = graft.WriteDoors.create(spark, "id BIGINT, v STRING")
      val t = target.table
      t.append(Seq((1L, "a")).toDF("id", "v"))
      t.setProperty("identity.id", "10")
      val head = t.latestVersion()
      val rootFiles = graft.WriteDoors.rootParquet(t)
      def refused(df: org.apache.spark.sql.DataFrame): Unit = {
        val err = intercept[Exception](door.write(spark, target, df))
        val msg = graft.WriteDoors.messages(err)
        assert(msg.contains("IDENTITY") && msg.contains("'id'"), msg)
        assert(t.latestVersion() === head, "a refused batch commits nothing")
        assert(t.read(spark).count() === 1L)
        assert(t.properties("identity.id") === "10")
        // the door writing before its commit refuses while planning
        if (door.stagesFirst) assert(graft.WriteDoors.rootParquet(t) === rootFiles)
      }
      refused(Seq((99L, "x")).toDF("id", "v"))
      if (door.stagesFirst) refused(Seq("y").toDF("v"))
      else {
        door.write(spark, target, Seq("y", "z").toDF("v"))
        val got = t.read(spark).filter(col("v") =!= "a").select("id")
          .collect().map(_.getLong(0))
        assert(got.length === 2 && got.distinct.length === 2)
        assert(got.min >= 10L, s"ids start at next: ${got.mkString(",")}")
        assert(t.properties("identity.id").toLong > got.max,
          "next must clear the allocated range")
      }
    }
  }
}
