package graft.prov

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Provenance-semantics assertions mirroring FIXTURES.md §2/§4 — edge
  * counts and dep sets per operator family, ignore-splicing, group
  * invariants, and the §3.3 query set.
  */
class ProvSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("prov-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def newStore(): String =
    Files.createTempDirectory("provstore").toString

  import spark.implicits._

  private def elementsOf(store: String, execId: String, taskId: String) =
    spark.read.parquet(s"$store/data_elements")
      .filter($"execution_id" === execId && $"task_id" === taskId)
      .collect()
      .map(r => (r.getAs[String]("element_id"),
                 r.getAs[scala.collection.Seq[scala.collection.Seq[String]]]("values").map(_.toSeq).toSeq,
                 r.getAs[scala.collection.Seq[String]]("deps").toSeq))

  test("map: 1->1 lineage edges") {
    val store = newStore()
    val s = ProvSession.create(spark, "t", store)
    val src = s.parallelize(Seq(1, 2, 3, 4, 5))
    val mapped = src.map(_ * 2)
    assert(mapped.collect().sorted == Seq(2, 4, 6, 8, 10))
    s.close()
    val srcEls = elementsOf(store, s.executionId, src.task.id)
    val mapEls = elementsOf(store, s.executionId, mapped.task.id)
    assert(srcEls.length == 5 && srcEls.forall(_._3.isEmpty))
    assert(mapEls.length == 5 && mapEls.forall(_._3.length == 1))
    val srcIds = srcEls.map(_._1).toSet
    assert(mapEls.flatMap(_._3).toSet == srcIds)
    // value correspondence: element valued "4" depends on element valued "2"
    val srcById = srcEls.map(e => e._1 -> e._2.head.head).toMap
    mapEls.foreach { case (_, v, deps) =>
      assert(srcById(deps.head).toInt * 2 == v.head.head.toInt)
    }
  }

  test("flatMap: 1->N lineage") {
    val store = newStore()
    val s = ProvSession.create(spark, "t", store)
    val src = s.parallelize(Seq("a b", "c"))
    val words = src.flatMap(_.split(" ").toSeq)
    assert(words.collect().sorted == Seq("a", "b", "c"))
    s.close()
    val srcEls = elementsOf(store, s.executionId, src.task.id)
    val wEls = elementsOf(store, s.executionId, words.task.id)
    assert(wEls.length == 3)
    val abId = srcEls.find(_._2.head.head == "a b").get._1
    assert(wEls.count(_._3 == Seq(abId)) == 2)
  }

  test("filter keeps lineage; dropped records feed don't-pass elements") {
    val store = newStore()
    val s = ProvSession.create(spark, "t", store, captureDropped = true)
    val src = s.parallelize(Seq(1, 2, 3, 4))
    val even = src.filter(v => v % 2 == 0, "evens")
    assert(even.collect().sorted == Seq(2, 4))
    s.close()
    val srcEls = elementsOf(store, s.executionId, src.task.id)
    val fEls = elementsOf(store, s.executionId, even.task.id)
    val (dontPass, kept) = fEls.partition(_._2.head.head.startsWith("don't-pass"))
    assert(kept.length == 2)
    assert(dontPass.nonEmpty)
    val droppedIds = srcEls.filter(e => e._2.head.head.toInt % 2 == 1).map(_._1).toSet
    assert(dontPass.flatMap(_._3).toSet == droppedIds)
  }

  test("reduceByKey: merged element depends on every input of its key") {
    val store = newStore()
    val s = ProvSession.create(spark, "t", store)
    val src = s.parallelize(Seq(("a", 1), ("a", 2), ("b", 3)))
    val red = src.reduceByKey(_ + _)
    assert(red.collect().toMap == Map("a" -> 3, "b" -> 3))
    s.close()
    val srcEls = elementsOf(store, s.executionId, src.task.id)
    val redEls = elementsOf(store, s.executionId, red.task.id)
    val aSrc = srcEls.filter(_._2.head.head == "a").map(_._1).toSet
    val aRed = redEls.find(_._2.head.head == "a").get
    assert(aRed._3.toSet == aSrc && aSrc.size == 2)
    val bRed = redEls.find(_._2.head.head == "b").get
    assert(bRed._3.length == 1)
  }

  test("aggregateByKey and groupByKey merge deps and values") {
    val store = newStore()
    val s = ProvSession.create(spark, "t", store)
    val src = s.parallelize(Seq(("k", 1), ("k", 2), ("k", 3)))
    val agg = src.aggregateByKey(0)(_ + _, _ + _)
    val grp = src.groupByKey()
    assert(agg.collect() == Seq(("k", 6)))
    assert(grp.collect().head._2.sorted == Seq(1, 2, 3))
    s.close()
    val aggEls = elementsOf(store, s.executionId, agg.task.id)
    assert(aggEls.head._3.length == 3)
    val grpEls = elementsOf(store, s.executionId, grp.task.id)
    assert(grpEls.head._3.length == 3)
  }

  test("foldByKey, combineByKey, keys/values, flatMapValues, mapPartitionsWithIndex") {
    val store = newStore()
    val s = ProvSession.create(spark, "t", store, captureEnabled = false)
    val p = s.parallelize(Seq(("a", 1), ("a", 2), ("b", 5)))
    assert(p.foldByKey(10)(_ + _).collect().toMap == Map("a" -> 23, "b" -> 15))
    val combined = p.combineByKey[List[Int]](
      v => List(v), (c, v) => v :: c, (c1, c2) => c1 ::: c2)
    assert(combined.collect().toMap.view.mapValues(_.sorted).toMap ==
      Map("a" -> List(1, 2), "b" -> List(5)))
    assert(p.keys.collect().sorted == Seq("a", "a", "b"))
    assert(p.valuesDs.collect().sorted == Seq(1, 2, 5))
    assert(p.flatMapValues(v => Seq(v, v * 10)).collect().sorted ==
      Seq(("a", 1), ("a", 2), ("a", 10), ("a", 20), ("b", 5), ("b", 50)).sorted)
    val withIdx = s.parallelize(Seq(1, 2, 3, 4))
      .mapPartitionsWithIndex((pid, it) => it.map(v => (pid, v)))
    assert(withIdx.collect().map(_._2).sorted == Seq(1, 2, 3, 4))
    assert(withIdx.collect().forall(_._1 >= 0))
    s.close()
  }

  test("ignoreIt splices dependencies through ignored tasks") {
    val store = newStore()
    val s = ProvSession.create(spark, "t", store)
    val src = s.parallelize(Seq(1, 2))
    val mid = src.map(_ + 10).ignoreIt()
    val end = mid.map(_ * 2)
    assert(end.collect().sorted == Seq(22, 24))
    s.close()
    val srcIds = elementsOf(store, s.executionId, src.task.id).map(_._1).toSet
    val endEls = elementsOf(store, s.executionId, end.task.id)
    // mid task persisted nothing
    assert(elementsOf(store, s.executionId, mid.task.id).isEmpty)
    // end elements depend directly on src elements
    assert(endEls.flatMap(_._3).toSet == srcIds)
  }

  test("join: output depends on exactly its two input elements") {
    val store = newStore()
    val s = ProvSession.create(spark, "t", store)
    val l = s.parallelize(Seq((1, "x"), (2, "y")))
    val r = s.parallelize(Seq((1, "X"), (3, "Z")))
    val j = l.join(r)
    assert(j.collect() == Seq((1, ("x", "X"))))
    s.close()
    val jEls = elementsOf(store, s.executionId, j.task.id)
    assert(jEls.length == 1 && jEls.head._3.length == 2)
    val lIds = elementsOf(store, s.executionId, l.task.id)
      .filter(_._2.head == Seq("1", "x")).map(_._1)
    val rIds = elementsOf(store, s.executionId, r.task.id)
      .filter(_._2.head == Seq("1", "X")).map(_._1)
    assert(jEls.head._3.toSet == (lIds ++ rIds).toSet)
  }

  test("outer joins keep unmatched sides with single-parent deps") {
    val store = newStore()
    val s = ProvSession.create(spark, "t", store)
    val l = s.parallelize(Seq((1, "x"), (2, "y")))
    val r = s.parallelize(Seq((1, "X")))
    val lo = l.leftOuterJoin(r)
    val fo = l.fullOuterJoin(r)
    assert(lo.collect().toMap == Map(1 -> ("x", Some("X")), 2 -> ("y", None)))
    assert(fo.collect().toMap == Map(1 -> (Some("x"), Some("X")), 2 -> (Some("y"), None)))
    s.close()
    val loEls = elementsOf(store, s.executionId, lo.task.id)
    assert(loEls.map(_._3.length).sorted.toSeq == Seq(1, 2))
  }

  test("cartesian: each pair depends on both inputs") {
    val store = newStore()
    val s = ProvSession.create(spark, "t", store)
    val a = s.parallelize(Seq(1, 2))
    val b = s.parallelize(Seq("x"))
    val c = a.cartesian(b)
    assert(c.collect().toSet == Set((1, "x"), (2, "x")))
    s.close()
    val cEls = elementsOf(store, s.executionId, c.task.id)
    assert(cEls.length == 2 && cEls.forall(_._3.length == 2))
  }

  test("union is pass-through; downstream sees both parents' elements") {
    val store = newStore()
    val s = ProvSession.create(spark, "t", store)
    val a = s.parallelize(Seq(1))
    val b = s.parallelize(Seq(2))
    val u = a.union(b)
    val m = u.map(_ * 10)
    assert(m.collect().sorted == Seq(10, 20))
    s.close()
    assert(elementsOf(store, s.executionId, u.task.id).isEmpty)
    val mDeps = elementsOf(store, s.executionId, m.task.id).flatMap(_._3).toSet
    val roots = (elementsOf(store, s.executionId, a.task.id) ++
      elementsOf(store, s.executionId, b.task.id)).map(_._1).toSet
    assert(mDeps == roots)
  }

  test("distinct merges duplicate elements' deps") {
    val store = newStore()
    val s = ProvSession.create(spark, "t", store)
    val src = s.parallelize(Seq(7, 7, 8))
    val d = src.distinct()
    assert(d.collect().sorted == Seq(7, 8))
    s.close()
    val dEls = elementsOf(store, s.executionId, d.task.id)
    assert(dEls.find(_._2.head.head == "7").get._3.length == 2)
    assert(dEls.find(_._2.head.head == "8").get._3.length == 1)
  }

  test("subtract / intersection / subtractByKey semantics") {
    val store = newStore()
    val s = ProvSession.create(spark, "t", store)
    val a = s.parallelize(Seq(1, 2, 2, 3))
    val b = s.parallelize(Seq(3, 4))
    assert(a.subtract(b).collect().sorted == Seq(1, 2, 2))
    assert(a.intersection(b).collect() == Seq(3))
    val pa = s.parallelize(Seq((1, "a"), (2, "b")))
    val pb = s.parallelize(Seq((2, "z")))
    assert(pa.subtractByKey(pb).collect() == Seq((1, "a")))
    s.close()
  }

  test("cogroup groups both sides per key with full dep set") {
    val store = newStore()
    val s = ProvSession.create(spark, "t", store)
    val l = s.parallelize(Seq((1, "a"), (1, "b")))
    val r = s.parallelize(Seq((1, "X"), (2, "Y")))
    val cg = l.cogroup(r)
    val m = cg.collect().toMap
    assert(m(1)._1.sorted == Seq("a", "b") && m(1)._2 == Seq("X"))
    assert(m(2)._1.isEmpty && m(2)._2 == Seq("Y"))
    s.close()
    val els = elementsOf(store, s.executionId, cg.task.id)
    assert(els.map(_._3.length).sorted.toSeq == Seq(1, 3))
  }

  test("zip, zipWithIndex, sortBy, sortByKey, glom, mapPartitions") {
    val store = newStore()
    val s = ProvSession.create(spark, "t", store)
    val a = s.parallelize(Seq(1, 2, 3))
    val b = s.parallelize(Seq("x", "y", "z"))
    assert(a.zip(b).collect().toSet == Set((1, "x"), (2, "y"), (3, "z")))
    val zi = a.zipWithIndex().collect().toMap
    assert(zi.values.toSet == Set(0L, 1L, 2L))
    assert(a.sortBy(v => -v).collect() == Seq(3, 2, 1))
    val p = s.parallelize(Seq((3, "c"), (1, "a"), (2, "b")))
    assert(p.sortByKey().collect().map(_._1) == Seq(1, 2, 3))
    val g = a.glom().collect()
    assert(g.flatten.sorted == Seq(1, 2, 3))
    val mp = a.mapPartitions(it => Iterator(it.sum))
    assert(mp.collect().sum == 6)
    s.close()
  }

  test("zipWithUniqueId, zipPartitions, reduceByKeyLocally") {
    val store = newStore()
    val s = ProvSession.create(spark, "t", store)
    val a = s.parallelize(Seq(1, 2, 3, 4))
    val ids = a.zipWithUniqueId().collect().map(_._2)
    assert(ids.distinct.length == 4) // unique, not necessarily contiguous
    val b = s.parallelize(Seq(10, 20, 30, 40))
    val zp = a.zipPartitions(b)((ia, ib) => ia.zip(ib).map { case (x, y) => x + y })
    assert(zp.collect().sorted == Seq(11, 22, 33, 44))
    val p = s.parallelize(Seq(("a", 1), ("b", 2), ("a", 3)))
    assert(p.reduceByKeyLocally(_ + _) == Map("a" -> 4, "b" -> 2))
    s.close()
    // zipPartitions outputs depend on inputs of BOTH zipped partitions
    val zpEls = elementsOf(store, s.executionId, zp.task.id)
    assert(zpEls.nonEmpty && zpEls.forall(_._3.length >= 2))
  }

  test("saveAsObjectFile round-trips through objectFile with per-file lineage") {
    val store = newStore()
    val dir = Files.createTempDirectory("objfile").toString + "/out"
    val s = ProvSession.create(spark, "t", store)
    s.parallelize(Seq("alpha", "beta", "gamma")).saveAsObjectFile(dir)
    val back = s.objectFile[String](dir)
    assert(back.collect().sorted == Seq("alpha", "beta", "gamma"))
    s.close()
    // every record element depends on exactly its source-file element,
    // and the file elements themselves exist under the same task
    val els = elementsOf(store, s.executionId, back.task.id)
    val (fileEls, recEls) = els.partition(_._3.isEmpty)
    assert(recEls.length == 3 && fileEls.nonEmpty)
    val fileIds = fileEls.map(_._1).toSet
    assert(recEls.forall(e => e._3.length == 1 && fileIds.contains(e._3.head)))
  }

  test("asyncFlush: chained background writes, store complete after close") {
    val store = newStore()
    val s = ProvSession.create(spark, "t", store, asyncFlush = true)
    val src = s.parallelize(Seq(1, 2, 3))
    val m = src.map(_ + 1)
    assert(m.collect().sorted == Seq(2, 3, 4)) // 1st flush (async)
    val m2 = m.map(_ * 10)
    assert(m2.collect().sorted == Seq(20, 30, 40)) // 2nd flush (chained)
    s.close() // awaits both writes
    val all = spark.read.parquet(s"$store/data_elements")
      .filter($"execution_id" === s.executionId)
    assert(all.count() == 9) // 3 roots + 3 map + 3 map
    // lineage intact across async batches: m2's deps are m's ids
    val mIds = elementsOf(store, s.executionId, m.task.id).map(_._1).toSet
    val m2Els = elementsOf(store, s.executionId, m2.task.id)
    assert(m2Els.length == 3 && m2Els.forall(e => mIds.contains(e._3.head)))
  }

  test("async is the default, the queue is bounded, and no rows are lost under a burst") {
    val store = newStore()
    val s = ProvSession.create(spark, "t", store)
    // the default session is async with a bounded queue — the reference
    // likewise writes provenance off-thread (DataSource.scala:28-45)
    assert(s.asyncFlush && s.maxPendingFlushes >= 1)
    // burst: actions enqueue flush batches faster than the store absorbs
    // them; the semaphore blocks flush() past the bound (backpressure),
    // so driver memory never holds more than maxPendingFlushes batches
    val chains = (1 to 6).map { i =>
      val out = s.parallelize(Seq(i, i + 10)).map(_ * 2)
      assert(out.collect().sorted == Seq(i * 2, (i + 10) * 2))
      assert(s.pendingFlushBatches <= s.maxPendingFlushes)
      out
    }
    assert(s.maxObservedFlushDepth <= s.maxPendingFlushes)
    s.close() // awaits the chain: store complete, nothing dropped
    assert(s.pendingFlushBatches == 0)
    // no lost rows: every burst iteration contributed 2 roots + 2 mapped
    val all = spark.read.parquet(s"$store/data_elements")
      .filter($"execution_id" === s.executionId)
    assert(all.count() == 6 * 4L)
    chains.foreach { out =>
      assert(elementsOf(store, s.executionId, out.task.id).length == 2)
    }
  }

  test("dropExecution removes one execution, leaves others intact, empties the store last") {
    val store = newStore()
    val s1 = ProvSession.create(spark, "keep-me", store)
    val m1 = s1.parallelize(Seq(1, 2)).map(_ * 2)
    assert(m1.collect().sorted == Seq(2, 4)); s1.close()
    val s2 = ProvSession.create(spark, "drop-me", store)
    val m2 = s2.parallelize(Seq(7)).map(_ + 1)
    assert(m2.collect() == Seq(8)); s2.close()

    val q = new ProvenanceQueries(spark, store)
    assert(q.executions.count() == 2)
    q.dropExecution(s2.executionId)
    // the dropped id is invisible to every §3.3 query; the other
    // execution is untouched
    assert(q.executions.collect().map(_.getAs[String]("execution_id")).toSeq ==
      Seq(s1.executionId))
    assert(q.elements(s2.executionId).count() == 0)
    assert(q.tasks(s2.executionId).count() == 0)
    assert(q.taskGraph(s2.executionId).count() == 0)
    assert(q.elements(s1.executionId).count() == 4)
    assert(q.lineageOf(s1.executionId,
      elementsOf(store, s1.executionId, m1.task.id).head._1).count() == 1)
    // partition directories physically gone
    assert(!new java.io.File(s"$store/data_elements/execution_id=${s2.executionId}").exists())
    assert(new java.io.File(s"$store/data_elements/execution_id=${s1.executionId}").exists())
    // dropping the LAST execution returns the store to pre-first-write
    q.dropExecution(s1.executionId)
    assert(!new java.io.File(s"$store/executions").exists() &&
      !new java.io.File(s"$store/data_elements").exists() &&
      !new java.io.File(s"$store/tasks").exists())
  }

  test("dropExecution refuses a live execution; force drops a crashed one") {
    val store = newStore()
    val q = new ProvenanceQueries(spark, store)
    val s = ProvSession.create(spark, "live", store)
    s.parallelize(Seq(1, 2, 3)).map(_ * 2).collect() // flushes elements
    s.awaitFlushes()
    // live: elements on disk, no executions row yet — a drop now would
    // be silently resurrected by the next flush, so it must throw
    val e = intercept[IllegalStateException](q.dropExecution(s.executionId))
    assert(e.getMessage.contains("still open"))
    // the refused drop deleted nothing
    assert(new java.io.File(
      s"$store/data_elements/execution_id=${s.executionId}").exists())
    s.close()
    // closed: the same call succeeds
    q.dropExecution(s.executionId)
    assert(!new java.io.File(
      s"$store/data_elements/execution_id=${s.executionId}").exists())

    // crashed run (same on-disk signature as live): force cleans it up
    val s2 = ProvSession.create(spark, "crashed", store)
    s2.parallelize(Seq(9)).map(_ + 1).collect()
    s2.awaitFlushes() // simulate a driver crash: no close()
    q.dropExecution(s2.executionId, force = true)
    assert(!new java.io.File(
      s"$store/data_elements/execution_id=${s2.executionId}").exists())
  }

  test("binaryRecords: fixed-length boundaries and per-file lineage") {
    val store = newStore()
    val dir = Files.createTempDirectory("binrec")
    // f1: 12 bytes = 3 whole records of 4; f2: 10 bytes = 2 whole
    // records + a 2-byte partial that the fixed-length contract drops
    Files.write(dir.resolve("f1.bin"), Array.tabulate(12)(_.toByte))
    Files.write(dir.resolve("f2.bin"), Array.tabulate(10)(i => (100 + i).toByte))
    val s = ProvSession.create(spark, "t", store)
    val pd = s.binaryRecords(dir.toString, recordLength = 4)
    val recs = pd.collect()
    assert(recs.length == 5 && recs.forall(_.length == 4))
    // exact record boundaries, not just counts
    val got = recs.map(_.toSeq).toSet
    val want = Set(
      Seq[Byte](0, 1, 2, 3), Seq[Byte](4, 5, 6, 7), Seq[Byte](8, 9, 10, 11),
      Seq(100, 101, 102, 103).map(_.toByte), Seq(104, 105, 106, 107).map(_.toByte))
    assert(got == want, s"records: $got")
    s.close()
    // per-file lineage, the objectFile recipe: file elements flush under
    // the same task; every record depends on exactly its file's element
    val els = elementsOf(store, s.executionId, pd.task.id)
    val (fileEls, recEls) = els.partition(_._3.isEmpty)
    assert(recEls.length == 5 && fileEls.length == 2)
    val byFile = fileEls.map(e => e._1 -> e._2.head.head).toMap
    val depCounts = recEls.groupBy(_._3.head).map { case (fid, rs) => byFile(fid).split("/").last -> rs.length }
    assert(recEls.forall(_._3.length == 1))
    assert(depCounts == Map("f1.bin" -> 3, "f2.bin" -> 2), s"deps: $depCounts")
  }

  test("toggles: env beats conf beats constructor (reference SparkConf.scala:661-670)") {
    import ProvSession.resolveToggle
    // pure resolution, env injected — capture flips without code changes
    val envOff = Map("GRAFT_ENABLE_PROVENANCE" -> "false")
    assert(!resolveToggle(envOff, "GRAFT_ENABLE_PROVENANCE",
      _ => Some("true"), "spark.graft.enableProvenance", default = true))
    assert(resolveToggle(Map("K" -> "1"), "K", _ => Some("false"), "c",
      default = false))
    assert(!resolveToggle(Map.empty, "K", _ => Some("false"), "c",
      default = true))
    assert(resolveToggle(Map.empty, "K", _ => None, "c", default = true))
    // garbage fails loudly (reference String.toBoolean): a typo must not
    // silently disable capture the constructor asked for
    intercept[IllegalArgumentException] {
      resolveToggle(Map("K" -> "yes"), "K", _ => None, "c", default = true)
    }
    assert(resolveToggle(Map("K" -> " TRUE "), "K", _ => None, "c",
      default = false))

    // conf end-to-end: the SAME create() call site flips to no-capture
    spark.conf.set("spark.graft.enableProvenance", "false")
    try {
      val store = newStore()
      val s = ProvSession.create(spark, "t", store)
      assert(!s.captureEnabled)
      val out = s.parallelize(Seq(1, 2, 3)).map(_ * 2)
      assert(out.collect().sorted == Seq(2, 4, 6))
      s.close()
      assert(!new java.io.File(s"$store/data_elements").exists(),
        "capture-off session wrote element rows")
    } finally spark.conf.unset("spark.graft.enableProvenance")
  }

  test("fromRDD bridges a stock RDD as fresh provenance roots") {
    val store = newStore()
    val s = ProvSession.create(spark, "t", store)
    val rdd = spark.sparkContext.parallelize(Seq(7, 8, 9))
    val pd = s.fromRDD(rdd, "sequenceFile-bridge")
    assert(pd.map(_ * 2).collect().sorted == Seq(14, 16, 18))
    s.close()
    val els = elementsOf(store, s.executionId, pd.task.id)
    assert(els.length == 3 && els.forall(_._3.isEmpty))
  }

  test("pipe: external process, all-to-all partition lineage") {
    val store = newStore()
    val s = ProvSession.create(spark, "t", store)
    val src = s.parallelize(Seq("hello", "world")).coalesce(1)
    val piped = src.pipe(Seq("tr", "a-z", "A-Z"))
    assert(piped.collect().sorted == Seq("HELLO", "WORLD"))
    s.close()
    val pEls = elementsOf(store, s.executionId, piped.task.id)
    assert(pEls.length == 2 && pEls.forall(_._3.length == 2))
  }

  test("pipe survives a child that floods stderr (no pipe-buffer deadlock)") {
    val store = newStore()
    val s = ProvSession.create(spark, "t", store, captureEnabled = false)
    val out = s.parallelize(Seq("hello")).coalesce(1)
      .pipe(Seq("sh", "-c",
        "tr a-z A-Z; yes e 2>/dev/null | head -c 200000 >&2"))
      .collect()
    assert(out == Seq("HELLO"))
    s.close()
  }

  test("zip of unequal-length datasets fails like RDD.zip") {
    val store = newStore()
    val s = ProvSession.create(spark, "t", store, captureEnabled = false)
    val a = s.parallelize(Seq(1, 2, 3))
    val b = s.parallelize(Seq("x", "y"))
    val ex = intercept[org.apache.spark.SparkException] { a.zip(b).collect() }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => e.getMessage +: msgs(e.getCause))
    assert(msgs(ex).exists(m => m != null && m.contains("same number of elements")))
    s.close()
  }

  test("map producing pairs gets the Key/Value default header") {
    val store = newStore()
    val s = ProvSession.create(spark, "t", store)
    val pairs = s.parallelize(Seq("x")).map(v => (v, 1), "to pairs")
    pairs.count()
    s.close()
    val taskRow = spark.read.parquet(s"$store/tasks")
      .filter($"task_id" === pairs.task.id).collect().head
    assert(taskRow.getAs[scala.collection.Seq[String]]("schema_fields").toSeq ==
      Seq("Key", "Value"))
    // header arity matches the projected grid
    val q = new ProvenanceQueries(spark, store)
    val vt = q.valueTable(s.executionId, pairs.task.id).collect().head
    assert(vt.getAs[scala.collection.Seq[String]]("schema_fields").length ==
      vt.getAs[scala.collection.Seq[String]]("row_values").length)
  }

  test("transformation groups: membership propagation + invariants") {
    val store = newStore()
    val s = ProvSession.create(spark, "t", store)
    val g = s.newGroup("composite")
    val src = s.parallelize(Seq(1, 2))
    val a = src.map(_ + 1).initTransformationGroup(g)
    val bMid = a.map(_ * 2)
    val fin = bMid.map(_ - 1).finishTransformationGroup(g)
    assert(fin.collect().sorted == Seq(3, 5))
    s.close()
    assert(g.initTasks.toSeq == Seq(a.task.id))
    assert(g.intermediaryTasks.toSeq == Seq(bMid.task.id))
    assert(g.finishTask.contains(fin.task.id))
    assertThrows[IllegalArgumentException] {
      fin.map(identity[Int]).finishTransformationGroup(g)
    }
    val groups = spark.read.parquet(s"$store/transformation_groups")
      .filter($"execution_id" === s.executionId).collect()
    assert(groups.length == 1 && groups.head.getAs[String]("finish_task") == fin.task.id)
  }

  test("textFile: records depend on their source-file element") {
    val store = newStore()
    val dir = Files.createTempDirectory("txt")
    Files.writeString(dir.resolve("in.txt"), "l1\nl2\n")
    val s = ProvSession.create(spark, "t", store)
    val tf = s.textFile(dir.toString)
    assert(tf.collect().sorted == Seq("l1", "l2"))
    s.close()
    val els = elementsOf(store, s.executionId, tf.task.id)
    val (fileEls, recEls) = els.partition(_._3.isEmpty)
    assert(fileEls.length == 1 && fileEls.head._2.head.head.endsWith("in.txt"))
    assert(recEls.length == 2 && recEls.forall(_._3 == Seq(fileEls.head._1)))
  }

  test("schemas: SingleLineSchema projects named columns; default pair schema") {
    val store = newStore()
    val s = ProvSession.create(spark, "t", store)
    val src = s.parallelize(Seq("v1;v2"))
      .setSchema(new SingleLineSchema[String](";", "ColA", "ColB"))
    src.count()
    s.close()
    val els = elementsOf(store, s.executionId, src.task.id)
    assert(els.head._2 == Seq(Seq("v1", "v2")))
    val taskRow = spark.read.parquet(s"$store/tasks")
      .filter($"execution_id" === s.executionId && $"task_id" === src.task.id)
      .collect().head
    assert(taskRow.getAs[scala.collection.Seq[String]]("schema_fields").toSeq == Seq("ColA", "ColB"))
    assert(!taskRow.getAs[Boolean]("using_default_schema"))
  }

  test("one session, both layers: one flush batch commits side-captured and appends replayed elements once each") {
    import org.apache.spark.sql.functions.col
    val store = newStore()
    val s = ProvSession.create(spark, "mixed", store)
    // relational frames, declared first so the typed action's flush
    // batch carries them: an Element chain through an ignored filter,
    // and a Task-granularity chain
    val df = spark.range(30).toDF("k").withColumn("v", col("k") % 3)
    val rel = RelationalProvenance.table(s, df, "rel", Seq("k"))
    val relIgn = rel.filter(col("v") =!= 0, "nonzero").ignoreIt()
    val relSel = relIgn.select("scaled")(col("k"), (col("v") * 10).as("v10"))
    val stats = RelationalProvenance.table(s, df, "stats", Seq("k"),
      RelationalProvenance.Granularity.Task)
    val statsF = stats.filter(col("k") < 10, "small")
    // typed chain through an ignored map; take(1) computes only the
    // first partition, so the flush materializes the rest
    val src = s.parallelize(1 to 40)
    val ign = src.map(_ + 1, "shift").ignoreIt()
    val doubled = ign.map(_ * 2, "doubled")
    val big = doubled.filter(_ > 20, "big")
    assert(big.take(1).length == 1)
    s.close()

    val els = spark.read.parquet(s"$store/data_elements")
      .filter($"execution_id" === s.executionId)
    val byTask = els.groupBy($"task_id").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byTask.get(src.taskId).contains(40L))
    assert(byTask.get(doubled.taskId).contains(40L))
    assert(byTask.get(big.taskId).contains(31L)) // (x + 1) * 2 > 20 for x in 10..40
    assert(byTask.get(rel.taskId).contains(30L))
    assert(byTask.get(relSel.taskId).contains(20L)) // k % 3 != 0 in 0..29
    assert(byTask.get(stats.taskId).contains(1L))
    assert(byTask.get(statsF.taskId).contains(1L))
    assert(!byTask.contains(ign.taskId) && !byTask.contains(relIgn.taskId))
    assert(els.groupBy($"element_id").count().filter($"count" > 1).isEmpty)
    // both layers splice through their ignored task
    val srcIds = elementsOf(store, s.executionId, src.taskId).map(_._1).toSet
    assert(elementsOf(store, s.executionId, doubled.taskId)
      .forall(e => e._3.length == 1 && srcIds(e._3.head)))
    val relIds = elementsOf(store, s.executionId, rel.taskId).map(_._1).toSet
    assert(elementsOf(store, s.executionId, relSel.taskId)
      .forall(e => e._3.length == 1 && relIds(e._3.head)))
    val Seq((statsId, statsVals, _)) = elementsOf(store, s.executionId, stats.taskId).toSeq
    val Seq((_, smallVals, smallDeps)) = elementsOf(store, s.executionId, statsF.taskId).toSeq
    assert(statsVals == Seq(Seq("__n_rows__", "30")))
    assert(smallVals == Seq(Seq("__n_rows__", "10")) && smallDeps == Seq(statsId))
  }

  test("ProvenanceQueries: graphs, value table, lineage closure, JSON export") {
    val store = newStore()
    val s = ProvSession.create(spark, "t", store)
    val src = s.parallelize(Seq(("a", 1), ("a", 2), ("b", 5)))
    val mapped = src.mapValues(_ * 10)
    val red = mapped.reduceByKey(_ + _)
    assert(red.collect().toMap == Map("a" -> 30, "b" -> 50))
    s.close()

    val q = new ProvenanceQueries(spark, store)
    assert(q.executions.filter($"execution_id" === s.executionId).count() == 1)
    assert(q.tasks(s.executionId).count() == 3)
    assert(q.taskDependencies(s.executionId).count() == 2)
    // 3 src + 3 mapped + 2 reduced elements; edges: 3 (map) + 3 (reduce)
    assert(q.elements(s.executionId).count() == 8)
    assert(q.elementDependencies(s.executionId).count() == 6)
    assert(q.fullGraph(s.executionId).count() == 8 + 6)
    // the id-free public summary (round-12 facade, the prov_full_graph
    // gate's projection): per-task element counts 3/3/2 and one edge
    // row of 3 lineage edges per task hop
    val gs = q.graphSummary(s.executionId).collect()
      .map(r => (r.getString(0), r.getLong(3))).toSeq
    assert(gs.filter(_._1 == "element").map(_._2).sorted == Seq(2L, 3L, 3L))
    assert(gs.filter(_._1 == "edge").map(_._2) == Seq(3L, 3L))
    assert(q.producedBy(s.executionId, red.task.id).count() == 2)
    val vt = q.valueTable(s.executionId, red.task.id).collect()
    assert(vt.length == 2 && vt.head.getAs[scala.collection.Seq[String]]("schema_fields").toSeq == Seq("Key", "Value"))

    // lineage closure: "a"-sum element ← 2 mapped ← 2 src (4 ancestors)
    val aRed = q.producedBy(s.executionId, red.task.id)
      .collect().find(_.getAs[scala.collection.Seq[scala.collection.Seq[String]]]("values").head.head == "a").get
      .getAs[String]("element_id")
    assert(q.lineageOf(s.executionId, aRed).count() == 4)

    val jsonFile = Files.createTempFile("graph", ".json")
    q.exportJson(s.executionId, jsonFile.toString)
    val txt = Files.readString(jsonFile)
    assert(txt.contains("\"nodes\"") && txt.contains("\"links\""))

    // self-contained HTML page: both graphs embedded, no external fetches
    val htmlFile = Files.createTempFile("graph", ".html")
    q.exportHtml(s.executionId, htmlFile.toString)
    val html = Files.readString(htmlFile)
    assert(html.contains("<!DOCTYPE html>"))
    assert(html.contains("taskCanvas") && html.contains("elemCanvas"))
    assert(html.contains("\"nodes\"") && html.contains("8 elements"))
    assert(!html.contains("http://") && !html.contains("https://"),
      "page must not reference external resources")
    // element cap: a tiny cap truncates and says so
    val capFile = Files.createTempFile("graphcap", ".html")
    q.exportHtml(s.executionId, capFile.toString, maxElements = 3)
    val capped = Files.readString(capFile)
    assert(capped.contains("showing first 3 of 8 elements"))

    // forward closure: a src element flows into 1 mapped + 1 reduced
    val aSrc = q.producedBy(s.executionId, src.task.id).collect()
      .find(_.getAs[scala.collection.Seq[scala.collection.Seq[String]]]("values").head == Seq("a", "1"))
      .get.getAs[String]("element_id")
    assert(q.descendantsOf(s.executionId, aSrc).count() == 2)
  }

  test("producedBy expands pass-through (union) tasks to parents") {
    val store = newStore()
    val s = ProvSession.create(spark, "t", store)
    val a = s.parallelize(Seq(1))
    val b = s.parallelize(Seq(2))
    val u = a.union(b)
    u.count()
    s.close()
    val q = new ProvenanceQueries(spark, store)
    assert(q.producedBy(s.executionId, u.task.id).count() == 0)
    assert(q.producedBy(s.executionId, u.task.id, expandPassThrough = true).count() == 2)
  }

  test("two executions share a store without cross-contamination") {
    val store = newStore()
    val s1 = ProvSession.create(spark, "app1", store)
    s1.parallelize(Seq(1, 2)).map(_ + 1).count()
    s1.close()
    val s2 = ProvSession.create(spark, "app2", store)
    s2.parallelize(Seq(10)).map(_ * 2).count()
    s2.close()
    val q = new ProvenanceQueries(spark, store)
    assert(q.executions.count() == 2)
    assert(q.elements(s1.executionId).count() == 4)
    assert(q.elements(s2.executionId).count() == 2)
    assert(q.tasks(s1.executionId).count() == 2)
    // partition pruning: reading one execution scans only its partition
    val plan = q.elements(s1.executionId).queryExecution.executedPlan.toString
    assert(q.elements(s1.executionId).collect()
      .forall(_.getAs[String]("execution_id") == s1.executionId))
  }

  test("provenance disabled: ops run, nothing persisted") {
    val store = newStore()
    val s = ProvSession.create(spark, "t", store, captureEnabled = false)
    val r = s.parallelize(Seq(1, 2, 3)).map(_ + 1).collect()
    assert(r.sorted == Seq(2, 3, 4))
    s.close()
    assert(!new java.io.File(s"$store/data_elements").exists())
  }

  test("sampling, range ops, approx count, double stats, histogram") {
    val store = newStore()
    val s = ProvSession.create(spark, "t", store, captureEnabled = false)
    assert(s.range(10).map(_ * 2).collect().sorted == (0L until 20L by 2).toSeq)
    val a = s.parallelize((1 to 100).toSeq)
    val parts = a.randomSplit(Seq(0.5, 0.5))
    assert(parts.map(_.count()).sum == 100)
    assert(a.takeSample(withReplacement = false, 10).length == 10)
    assert(a.filterByRange(10, 19).collect().sorted == (10 to 19))
    assert(a.repartitionAndSortWithinPartitions(4).count() == 100)
    val approx = a.countApproxDistinct()
    assert(approx > 90 && approx < 110)
    assert(a.cache().count() == 100)
    assert(a.localCheckpoint().count() == 100)
    a.unpersist()
    val pp = s.parallelize(Seq((1, "a"), (2, "b"))).partitionByKey(2)
    assert(pp.collect().toMap == Map(1 -> "a", 2 -> "b"))
    val d = s.parallelize((1 to 100).map(_.toDouble))
    val st = d.stats()
    assert(st.count == 100 && st.min == 1.0 && st.max == 100.0 && st.sum == 5050.0)
    assert(math.abs(st.mean - 50.5) < 1e-9)
    val (edges, counts) = d.histogram(4)
    assert(edges.length == 5 && counts.sum == 100)
    assert(counts == Seq(25, 25, 25, 24) || counts.sum == 100)
    assert(d.histogram(Seq(0.0, 50.0, 200.0)) == Seq(49, 51))
    assert(math.abs(d.meanApprox(10000) - 50.5) < 1e-9)
    assert(math.abs(d.sumApprox(10000) - 5050.0) < 1e-9)
    assert(math.abs(a.countApprox(10000) - 100.0) < 1e-9)
    s.close()
  }

  test("stats/histogram/glom edge cases: empty input, FP edges, empty partitions") {
    val store = newStore()
    val s = ProvSession.create(spark, "t", store, captureEnabled = false)
    // empty dataset: StatCounter parity, no NPE
    val empty = s.parallelize(Seq.empty[Double])
    val est = empty.stats()
    assert(est.count == 0 && est.mean.isNaN && est.sum == 0.0)
    assert(est.min.isPosInfinity && est.max.isNegInfinity)
    // FP-hostile range: lo + buckets*width < hi; the max value must
    // still land in the last bucket
    val vals = Seq(0.0, 0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7)
    val d = s.parallelize(vals)
    val (edges, counts) = d.histogram(7)
    assert(edges.last == 0.7 && counts.sum == vals.length,
      s"max value dropped: edges=$edges counts=$counts")
    // glom: one array per partition INCLUDING empty ones
    val one = s.parallelize(Seq(1))
    assert(one.glom().collect().map(_.length).sum == 1)
    assert(one.glom().count() ==
      one.ds.rdd.getNumPartitions) // parity with RDD.glom
    s.close()
  }

  test("actions: reduce, take, top, countByKey, countByValue, lookup") {
    val store = newStore()
    val s = ProvSession.create(spark, "t", store, captureEnabled = false)
    val a = s.parallelize(Seq(3, 1, 2))
    assert(a.reduce(_ + _) == 6)
    assert(a.takeOrdered(2) == Seq(1, 2))
    assert(a.top(1) == Seq(3))
    assert(a.countByValue() == Map(3 -> 1L, 1 -> 1L, 2 -> 1L))
    val p = s.parallelize(Seq(("a", 1), ("a", 2)))
    assert(p.countByKey() == Map("a" -> 2L))
    assert(p.countByKeyApprox(10000) == Map("a" -> 2L))
    assert(p.lookup("a").sorted == Seq(1, 2))
    assert(p.collectAsMap() == Map("a" -> 2))
    s.close()
  }

  test("lineage closure is returned distributed, not collected to the driver") {
    val store = newStore()
    val s = ProvSession.create(spark, "t", store)
    val src = s.parallelize(0 until 10000)
    val keyed = src.keyBy(_ => 0)
    val red = keyed.reduceByKey(_ + _)
    assert(red.collect().head._2 == (0 until 10000).sum)
    s.close()
    val q = new ProvenanceQueries(spark, store)
    val redEl = q.elements(s.executionId)
      .filter($"task_id" === red.task.id).select("element_id")
      .collect().head.getString(0)
    val closure = q.lineageOf(s.executionId, redEl)
    // 10k keyBy elements (hop 1) + 10k src elements (hop 2)
    assert(closure.count() == 20000)
    // localCheckpoint-backed scan, not a driver-side local relation: the
    // closure of a full-corpus impact analysis can be millions of rows
    val plan = closure.queryExecution.executedPlan.toString
    assert(!plan.contains("LocalTableScan"),
      s"closure was materialized through the driver:\n$plan")
  }

  test("lookup pushes the key predicate into a parquet scan") {
    val store = newStore()
    val dir = Files.createTempDirectory("lookupparquet").toString + "/recs"
    val s = ProvSession.create(spark, "t", store, captureEnabled = false)
    // a parquet-backed ProvDataset: records persisted then re-read, so
    // the lookup filter sits directly above a columnar scan
    spark.createDataset(Seq(
        ProvRecord("i1", Seq.empty[String], ("a", 1)),
        ProvRecord("i2", Seq.empty[String], ("b", 2)),
        ProvRecord("i3", Seq.empty[String], ("a", 3))))
      .write.parquet(dir)
    val ds = spark.read.parquet(dir).as[ProvRecord[(String, Int)]]
    val pd = ProvDataset.create(ds, s.newTask(TransformationType.MAP, Nil, "pq"), s)
    assert(pd.lookup("a").sorted == Seq(1, 3))
    val plan = pd.lookupFrame("a").queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") &&
      plan.replaceAll("\\s", "").contains("EqualTo(value._1,a)"),
      s"lookup key predicate not pushed to the scan:\n$plan")
    s.close()
  }

  test("sequenceFile: records depend on their source-file element") {
    val store = newStore()
    val dir = Files.createTempDirectory("seqfile").toString + "/out"
    import org.apache.hadoop.io.{IntWritable, Text}
    import org.apache.hadoop.mapred.SequenceFileOutputFormat
    // two partitions -> two part files, so per-file wiring is observable
    spark.sparkContext.parallelize(Seq((1, "a"), (2, "b"), (3, "c"), (4, "d")), 2)
      .map { case (k, v) => (new IntWritable(k), new Text(v)) }
      .saveAsHadoopFile(dir, classOf[IntWritable], classOf[Text],
        classOf[SequenceFileOutputFormat[IntWritable, Text]])
    val s = ProvSession.create(spark, "t", store)
    val back = s.sequenceFile(dir, classOf[IntWritable], classOf[Text]) {
      (k, v) => (k.get, v.toString)
    }
    assert(back.collect().sortBy(_._1) == Seq((1, "a"), (2, "b"), (3, "c"), (4, "d")))
    s.close()
    val els = elementsOf(store, s.executionId, back.task.id)
    val (fileEls, recEls) = els.partition(_._3.isEmpty)
    assert(recEls.length == 4 && fileEls.length == 2,
      s"expected 4 records over 2 file elements, got $els")
    val fileIds = fileEls.map(_._1).toSet
    assert(recEls.forall(e => e._3.length == 1 && fileIds.contains(e._3.head)))
    // records split across files: both file elements actually referenced
    assert(recEls.map(_._3.head).toSet == fileIds)
  }

  test("newAPIHadoopFile: records depend on their source-file element") {
    val store = newStore()
    val dir = Files.createTempDirectory("newapi")
    Files.writeString(dir.resolve("a.txt"), "x1\nx2\n")
    Files.writeString(dir.resolve("b.txt"), "y1\n")
    import org.apache.hadoop.io.{LongWritable, Text}
    import org.apache.hadoop.mapreduce.lib.input.TextInputFormat
    val s = ProvSession.create(spark, "t", store)
    val back = s.newAPIHadoopFile(dir.toString, classOf[TextInputFormat],
      classOf[LongWritable], classOf[Text]) { (_, v) => v.toString }
    assert(back.collect().sorted == Seq("x1", "x2", "y1"))
    s.close()
    val els = elementsOf(store, s.executionId, back.task.id)
    val (fileEls, recEls) = els.partition(_._3.isEmpty)
    assert(fileEls.length == 2 && recEls.length == 3)
    val byFile = fileEls.map(e => e._1 -> e._2.head.head).toMap
    // each record's single dep is the element of the file that holds it
    recEls.foreach { case (_, v, deps) =>
      val f = byFile(deps.head)
      val expected = if (v.head.head.startsWith("x")) "a.txt" else "b.txt"
      assert(f.endsWith(expected), s"record $v wired to wrong file $f")
    }
  }

  test("metadata tables written driver-side read back with Spark's schema") {
    import org.apache.spark.sql.types._
    val store = newStore()
    val t0 = new java.sql.Timestamp(System.currentTimeMillis())
    val s = ProvSession.create(spark, "meta-app", store)
    val g = s.newGroup("grp")
    val src = s.parallelize(Seq(1, 2, 3))
    val m = src.map(_ + 1).initTransformationGroup(g)
      .finishTransformationGroup(g)
    assert(m.collect().sorted == Seq(2, 3, 4))
    s.close()
    val t1 = new java.sql.Timestamp(System.currentTimeMillis())

    // executions: same column names/types the Spark writer produced,
    // timestamps round-trip as TimestampType with sane instants, and
    // the typed encoder read-back still works
    val ex = spark.read.parquet(s"$store/executions")
    assert(ex.schema.fields.map(f => (f.name, f.dataType)).toSet ==
      Set(("app_name", StringType), ("start_time", TimestampType),
        ("end_time", TimestampType), ("execution_id", StringType)))
    val exRow = ex.as[ExecutionRow].collect().head
    assert(exRow.execution_id == s.executionId && exRow.app_name == "meta-app")
    assert(!exRow.start_time.before(new java.sql.Timestamp(t0.getTime - 1000)))
    assert(exRow.end_time.exists(e =>
      !e.before(exRow.start_time) && !e.after(new java.sql.Timestamp(t1.getTime + 1000))))

    // tasks: booleans and list columns typed correctly
    val tk = spark.read.parquet(s"$store/tasks")
    val tTypes = tk.schema.fields.map(f => (f.name, f.dataType)).toMap
    assert(tTypes("using_default_schema") == BooleanType &&
      tTypes("is_ignored") == BooleanType &&
      tTypes("schema_fields") == ArrayType(StringType) &&
      tTypes("dependencies") == ArrayType(StringType))
    val mapRow = tk.as[TaskRow].collect()
      .find(_.task_id == m.task.id).get
    assert(mapRow.transformation_type == "MAP" &&
      mapRow.dependencies == Seq(src.task.id) && !mapRow.is_ignored)

    // transformation_groups: lists + the scalar finish_task column
    val gr = spark.read.parquet(s"$store/transformation_groups")
      .as[TransformationGroupRow].collect().head
    assert(gr.group_id == g.id && gr.name == "grp" &&
      gr.init_tasks == Seq(m.task.id) && gr.intermediary_tasks.isEmpty &&
      gr.finish_task == m.task.id)
  }
}
