package graft

import org.apache.spark.sql.types.{ArrayType, MapType, StructType}

/** Mechanical guards for the driver-gate contract, applied to EVERY
  * registered query — the invariants that have actually bitten in past
  * rounds live here so a new query can't silently violate them.
  */
class GateInvariantSpec extends SparkSpec {

  test("every oracle key names a registered query; every query has an oracle") {
    val queries = SparkEntry.queries.keySet
    val oracles = SparkEntry.oracleSql.keySet
    assert(oracles.subsetOf(queries),
           s"oracles without queries: ${oracles.diff(queries)}")
    // since r5 even the HLL sketch query is oracle-checked (it
    // self-gates via within_tolerance) — no rows-only queries remain
    assert(queries.diff(oracles).isEmpty,
           s"queries without oracles: ${queries.diff(oracles)}")
  }

  test("drain registry == the stream_-prefixed query names") {
    // Bench splits drain_total out of batch_extended_total using the
    // EXPLICIT SparkEntry.drainQueries registry; this pin means a new
    // drain registered under a non-stream_ name (or a stream_ query
    // missing from the registry) fails the build instead of silently
    // skewing round-over-round engine comparisons.
    val prefixed = SparkEntry.queries.keySet.filter(_.startsWith("stream_"))
    assert(SparkEntry.drainQueries === prefixed,
           s"registry-only: ${SparkEntry.drainQueries.diff(prefixed)}; " +
             s"prefix-only: ${prefixed.diff(SparkEntry.drainQueries)}")
  }

  test("bench-only session config cannot leak into library code") {
    // Posture.bench disables AQE and shrinks shuffle partitions for the
    // local micro-bench; a cluster session must never inherit that
    // posture. Guard: no file but Posture.scala (the one place sessions
    // are built) may set either knob; both patterns do match inside
    // Posture.scala, so the scan cannot pass vacuously; and the running
    // test session still has AQE on.
    import scala.jdk.CollectionConverters._
    val patterns = Seq("spark.sql.adaptive.enabled",
                       """config("spark.sql.shuffle.partitions", 8)""")
    def src(p: java.nio.file.Path): String =
      new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
    val root = java.nio.file.Paths.get("src/main/scala/graft")
    val (posture, library) = java.nio.file.Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toList
      .partition(_.endsWith("Posture.scala"))
    assert(posture.size == 1, s"expected one Posture.scala: $posture")
    assert(patterns.forall(src(posture.head).contains),
           "guard patterns no longer match Posture.scala: the scan is vacuous")
    val offenders = library
      .filter(p => patterns.exists(src(p).contains))
      .map(_.toString)
    assert(offenders.isEmpty, s"bench-only config set outside Posture.scala: $offenders")
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
  }

  test("keyed-state builders: one call site per state API and file-context hook") {
    // Every keyed stage reaches its state API through one builder
    // (EventPipeline.keyedUpdate for flatMapGroupsWithState,
    // TypedStatefulProcessors.withState for the TTL-resolved
    // transformWithState stages), and each builder that starts keyed
    // state calls LocalFs.use, so a session the engine did not build
    // still checkpoints without a process per file op. Guard: each
    // pattern occurs in src/main exactly at these sites, per file. The
    // expected counts are all positive, so the scan cannot pass
    // vacuously.
    import scala.jdk.CollectionConverters._
    val allowed = Map(
      "LocalFs.use(" -> Map(
        "EventPipeline.scala" -> 2,           // readEventFileStream, keyedUpdate
        "TypedStatefulProcessors.scala" -> 3, // withState, warm start, cooldown expiry
        "SessionStatefulProcessor.scala" -> 1),
      "flatMapGroupsWithState(" -> Map("EventPipeline.scala" -> 1),
      "transformWithState(" -> Map(
        "TypedStatefulProcessors.scala" -> 3, // withState, warm start, cooldown expiry
        "SessionStatefulProcessor.scala" -> 1))
    val root = java.nio.file.Paths.get("src/main/scala/graft")
    val sources = java.nio.file.Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toList
      .map(p => p.getFileName.toString ->
        new String(java.nio.file.Files.readAllBytes(p), "UTF-8"))
    for ((pattern, expected) <- allowed) {
      val found = sources
        .map { case (f, text) =>
          f -> java.util.regex.Pattern.quote(pattern).r.findAllMatchIn(text).size }
        .filter(_._2 > 0).toMap
      assert(found == expected, s"$pattern call sites")
    }
    // and the one flatMapGroupsWithState call is the keyedUpdate body
    val pipeline = sources.collectFirst { case ("EventPipeline.scala", t) => t }.get
    val helper = pipeline.indexOf("private def keyedUpdate")
    val call = pipeline.indexOf("flatMapGroupsWithState(")
    assert(helper >= 0 && call > helper &&
             call < pipeline.indexOf("\n  def ", helper),
           "flatMapGroupsWithState outside EventPipeline.keyedUpdate")
  }

  test("streaming drains: one event reader, state-store unload and sentinel row") {
    // StreamDrain reads every staged event stream through
    // EventPipeline.readEventFileStream, every other staging through one
    // private reader, unloads state stores in one helper and builds the
    // sentinel event in one helper. Guard: each pattern occurs in the
    // file exactly this often, comments included; the expected counts
    // but the first are positive, and the event reader must be called,
    // so the scan cannot pass vacuously.
    val text = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("src/main/scala/graft/streaming/StreamDrain.scala")), "UTF-8")
    def count(pattern: String): Int =
      java.util.regex.Pattern.quote(pattern).r.findAllMatchIn(text).size
    val expected = Map(
      "schema(EventPipeline.eventSchema)" -> 0,
      "StateStore.stop()" -> 1,
      "maxFilesPerTrigger" -> 1,
      """lit(-1L).as("event_id")""" -> 1)
    assert(expected.map { case (p, _) => p -> count(p) } == expected)
    assert(count("readEventFileStream(") > 0, "no drain reads through readEventFileStream")
  }

  test("cache validity: one frame store, a fork-free listing, no dir-keyed drain or Dims memo") {
    // Every memo of data derived from a dataset dir follows one rule
    // (valid while the dir's files keep their version): frames go
    // through the one FrameStore.shared, values through VersionedMemo,
    // and the version comes from Tables.listing's listStatus walk
    // (listFiles builds a LocatedFileStatus, whose permission read
    // starts a process per file on the local file system). Guard: the
    // constructor occurs once, listFiles never, and the only concurrent
    // map Dims and StreamDrain declare is StreamDrain's work-dir
    // registry. Every expected count is pinned exactly, so a scan that
    // stops matching fails too.
    import scala.jdk.CollectionConverters._
    val sources = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main/scala"))
      .iterator().asScala
      .filter(_.toString.endsWith(".scala")).toList
      .map(p => p.getFileName.toString ->
        new String(java.nio.file.Files.readAllBytes(p), "UTF-8"))
    def count(pattern: String): Int = sources.map { case (_, text) =>
      java.util.regex.Pattern.quote(pattern).r.findAllMatchIn(text).size }.sum
    assert(count("new FrameStore(") == 1)
    assert(count("listFiles(") == 0)
    val map = "TrieMap|ConcurrentHashMap"
    val declared = s"""private val (\\w+) =\\s*new [\\w.]*(?:$map)""".r
    for ((file, maps) <- Seq("Dims.scala" -> Nil, "StreamDrain.scala" -> Seq("liveDirs"))) {
      val text = sources.collectFirst { case (`file`, t) => t }.get
      assert(declared.findAllMatchIn(text).map(_.group(1)).toList == maps, file)
      assert(map.r.findAllMatchIn(text).size == maps.size, s"$file mentions a concurrent map")
    }
  }

  test("session conf: src/main reads exactly the seven graft.* bounds and secrets") {
    // Algorithm parameters are constants that their oracles pin. The
    // graft.* keys left are size and memory bounds a deployment sets to
    // its hardware, the per-release privacy salt and the state TTL.
    // Guard: the set of "graft.<area>.<name>" string literals under
    // src/main/scala is exactly these. Conf names are lowerCamel, so a
    // class name such as graft.plans.GraftExtensions does not match;
    // the expected set is non-empty, so the scan cannot pass vacuously.
    import scala.jdk.CollectionConverters._
    val kept = Set("graft.compact.target", "graft.dims.broadcastMaxRows",
                   "graft.funnel.maxEvents", "graft.privacy.salt",
                   "graft.ssjoin.broadcastMaxChars", "graft.state.ttl",
                   "graft.topk.maxPartialBufferedRows")
    val key = "\"(graft\\.[a-z]+\\.[a-z][A-Za-z]*)\"".r
    val found = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main/scala"))
      .iterator().asScala
      .filter(_.toString.endsWith(".scala")).toList
      .flatMap(p => key.findAllMatchIn(new String(
        java.nio.file.Files.readAllBytes(p), "UTF-8")).map(_.group(1)))
      .toSet
    assert(found == kept)
  }

  test("every query output is scalar-only (driver's row sorter dies on nested types)") {
    val frames = RegisteredFrames(spark, sf("sf0.001"))
    assert(frames.size == SparkEntry.queries.size)
    val offenders = frames.flatMap { q =>
      q.schema.fields.collect {
        case f if f.dataType.isInstanceOf[ArrayType] ||
          f.dataType.isInstanceOf[MapType] ||
          f.dataType.isInstanceOf[StructType] =>
          s"${q.name}.${f.name}: ${f.dataType.simpleString}"
      }
    }
    assert(offenders.isEmpty, s"nested output columns: $offenders")
  }
}
