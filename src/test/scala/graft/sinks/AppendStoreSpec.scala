package graft.sinks

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.multimodal.MediaSigStore
import graft.text.{ChunkSigStore, GramStore, QualityStore, SignatureStore,
  SimHashStore}

class AppendStoreSpec extends SparkSpec {

  /** 60 docs of 40–99 words over a 30-word vocabulary: every doc has
    * several 32-token windows. */
  private def docs: DataFrame = spark.range(60).select(col("id").as("doc_id"),
    concat_ws(" ", transform(sequence(lit(1), (col("id") + 40).cast("int")),
      i => concat(lit("w"), ((col("id") * 7 + i * 13) % 30).cast("string"))))
      .as("text"))

  private val stores: Seq[(String, AppendStore)] = Seq(
    "SignatureStore" -> SignatureStore, "SimHashStore" -> SimHashStore,
    "GramStore" -> GramStore, "ChunkSigStore" -> ChunkSigStore,
    "MediaSigStore" -> MediaSigStore, "QualityStore" -> QualityStore)

  private def tmpStore(prefix: String): String = new java.io.File(
    java.nio.file.Files.createTempDirectory(prefix).toFile, "store").toString

  private def sorted(df: DataFrame): Seq[Seq[Any]] =
    df.collect().map(_.toSeq).toSeq.sortBy(_.mkString("|"))

  test("every store stages under its own prefix") {
    // the fixture stores all stage under corpus_v1_$dir etc.; a shared
    // prefix would serve one store's frame to the other (SimHashStore and
    // MediaSigStore both write a simhash64 column, so the media judge
    // would silently read text signatures)
    val shared = stores.groupBy(_._2.prefix).collect {
      case (p, ss) if ss.size > 1 => p -> ss.map(_._1)
    }
    assert(shared.isEmpty, s"stores sharing a staging prefix: $shared")
  }

  test("a batch appended twice compacts to a single append, one row per key") {
    val assets = docs.select(col("doc_id"), col("text").cast("binary").as("payload"))
    for ((name, store, batch) <- Seq(
           ("SimHashStore", SimHashStore, docs),
           ("ChunkSigStore", ChunkSigStore, docs),
           ("MediaSigStore", MediaSigStore, assets))) {
      val once = tmpStore("append_once_")
      val twice = tmpStore("append_twice_")
      store.appendBatch(once, batch)
      store.appendBatch(twice, batch)
      store.appendBatch(twice, batch)
      store.compact(spark, twice)
      val single = store.read(spark, once)
      val compacted = store.read(spark, twice)
      assert(single.count() > 0, s"$name: empty batch")
      val keys = store.key.map(col)
      assert(compacted.groupBy(keys: _*).count()
        .filter(col("count") > 1).isEmpty, s"$name: a key holds two rows")
      assert(sorted(compacted) === sorted(single), s"$name")
      Seq(once, twice).foreach(p => org.apache.commons.io.FileUtils
        .deleteQuietly(new java.io.File(p).getParentFile))
    }
  }

  test("compactIfNeeded compacts only above maxFiles") {
    val store = tmpStore("append_gate_")
    val sigs = SimHashStore.sign(docs).coalesce(1)
    (1 to 3).foreach(_ => SimHashStore.appendSigs(store, sigs))
    assert(StoreMaintenance.dataFileCount(spark, store) === 3)
    assert(!SimHashStore.compactIfNeeded(spark, store, 4))
    assert(!SimHashStore.compactIfNeeded(spark, store, 3))
    assert(StoreMaintenance.dataFileCount(spark, store) === 3)
    assert(SimHashStore.compactIfNeeded(spark, store, 2))
    assert(sorted(SimHashStore.read(spark, store)) === sorted(sigs))
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(store).getParentFile)
  }
}
