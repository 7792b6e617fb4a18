package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.classic.ClassicConversions.castToImpl
import org.apache.spark.sql.functions._

import graft.io.Sources
import graft.util.Columns

/** A raw frame (one group of same-shaped files, or one XLSX file) tagged
  * with its detected source. The engine carries the
  * source *next to* the plan instead of re-reading `df["Source"][0]` from
  * data like the reference does (`multi_source_ad_etl.py:157,178`) — that
  * would force a collect per frame; here everything stays a lazy plan until
  * a sink action.
  */
final case class Sourced(source: String, df: DataFrame)

/** Spark-native multi-source ad-report conformance engine.
  *
  * Same contract as the reference engine
  * (`/root/reference/src/multi_source_ad_etl/multi_source_ad_etl.py`):
  * read → detect source from column signature → per-source clean →
  * standardize (rename → null-fill → project → cast) → union — but composed
  * as ONE lazy logical plan per pipeline. Catalyst collapses the whole
  * rename/conform/cast chain into a single Project over each scan and pushes
  * filters into the readers; nothing materializes before the caller's sink.
  *
  * Scale note: the files of a raw directory are read as one multi-file scan
  * per group of same-header, same-inferred-schema files, and each group is
  * one independent branch of a final `UNION ALL`. Detect/clean/conform run
  * once per group, so the plan grows with the number of distinct export
  * shapes, not with the number of files; every stage is narrow (zero
  * shuffles). A union of at most one `spark.sql.files.openCostInBytes`
  * of input is coalesced to one partition ([[merge]]), so a small raw
  * directory of many files reaches the caller as one partition, not one
  * per file group and core.
  */
final class MultiSourceAdEtl(val config: EtlConfig) {
  config.validate()

  /** Read every tabular file in `rawDir`: one DataFrame per group of CSV
    * files that share a header and a per-file inferred schema, one per
    * XLSX file (a single read over heterogeneous files would merge their
    * schemas and break detection). Reference S1/S3
    * (`multi_source_ad_etl.py:96-108`).
    */
  def readTabularFiles(spark: SparkSession, rawDir: String): Seq[DataFrame] =
    Sources.readTabularFiles(spark, rawDir)

  /** Normalize every column name: first char upper, rest lower — a metadata
    * rename, NOT `initcap` on data (`multi_source_ad_etl.py:110-124`).
    */
  def capitalizeColNames(dfs: Seq[DataFrame]): Seq[DataFrame] =
    dfs.map(df => df.toDF(df.columns.map(MultiSourceAdEtl.capitalizeName).toIndexedSeq: _*))

  /** First source whose criteria columns are all present — first-match-wins
    * in declaration order (`multi_source_ad_etl.py:126-136`).
    */
  def detectSource(df: DataFrame): String = {
    val cols = df.columns.toSet
    config.sourceCriteria
      .collectFirst { case (src, crit) if crit.subsetOf(cols) => src }
      .getOrElse(throw new IllegalArgumentException(
        s"Source: 'Unknown' assigned (columns: ${df.columns.mkString(", ")}; " +
          s"files: ${df.inputFiles.mkString(", ")})"))
  }

  /** Detect each frame's source, stamp it as the first column
    * (`multi_source_ad_etl.py:138-151`).
    */
  def assignSource(dfs: Seq[DataFrame]): Seq[Sourced] =
    dfs.map { df =>
      val src = detectSource(df)
      val rest = df.columns.filter(_ != "Source").map(Columns.named)
      Sourced(src, df.withColumn("Source", lit(src)).select(col("Source") +: rest.toIndexedSeq: _*))
    }

  /** Apply the source's cleaners in declaration order
    * (`multi_source_ad_etl.py:153-168`).
    */
  def cleanDataFrames(frames: Seq[Sourced]): Seq[Sourced] =
    frames.map { case Sourced(src, df) =>
      Sourced(src, config.cleaners.getOrElse(src, Seq.empty).foldLeft(df)((d, f) => f(d)))
    }

  /** Rename raw→standard, then conform to the declared schema in ONE
    * projection: missing columns become typed nulls, extra columns are
    * dropped, order is schema order, every column is cast
    * (`multi_source_ad_etl.py:170-200`). Casts are strict under ANSI mode
    * (Spark 4 default) to preserve Polars' fail-fast `.cast` semantics.
    */
  def standardizeDataFrames(frames: Seq[Sourced]): Seq[DataFrame] =
    frames.map { case Sourced(src, df) =>
      val mapping = config.renameMappings.getOrElse(
        src, throw new IllegalArgumentException(s"Mapping required for source: $src"))
      // Polars `rename` is strict: a mapping key absent from the frame
      // raises rather than silently no-opping (withColumnsRenamed alone
      // would hide it and the conform step would fill the target with
      // nulls — a silently corrupt report).
      val absent = mapping.keys.filterNot(df.columns.toSet)
      if (absent.nonEmpty) throw new IllegalArgumentException(
        s"""Rename source column(s) not found in "$src" frame: ${absent.mkString(", ")}""" +
          s" (columns: ${df.columns.mkString(", ")})")
      val renamed = df.withColumnsRenamed(mapping)
      MultiSourceAdEtl.conformTo(renamed, config.standardSchema)
    }

  /** UNION ALL of the conformed frames (`multi_source_ad_etl.py:202-205`).
    * Name-based union: schemas are identical post-standardize by
    * construction, but `unionByName` keeps it robust to column order.
    *
    * A small union is then made one partition: each group scan spreads its
    * files over the cores on its own, so a small raw directory would
    * otherwise reach every later action as dozens of tiny partitions. With
    * `bytes` the summed size estimate of the union's leaves (the file
    * lengths a CSV scan's index already listed, a local frame's row
    * estimate; no file-system call, no job), the union is coalesced to one
    * partition when `bytes` is at most `spark.sql.files.openCostInBytes`,
    * and returned untouched otherwise. A coalesce is narrow, so the plan
    * stays shuffle-free, and a sort or a global aggregate over a single
    * partition needs no exchange.
    *
    * Skew: that one task holds the whole input, so it never holds more than
    * one file-open cost, which is what Spark's size-packed scan already
    * puts in one partition. Larger inputs keep the scans' partitions.
    */
  def merge(dfs: Seq[DataFrame]): DataFrame = {
    require(dfs.nonEmpty, "merge: no frames were given")
    val union = dfs.reduce(_.unionByName(_))
    val bytes = union.queryExecution.analyzed.collectLeaves().map(_.stats.sizeInBytes).sum
    val openCost = castToImpl(union.sparkSession).sessionState.conf.filesOpenCostInBytes
    if (bytes <= openCost) union.coalesce(1) else union
  }

  /** Full pipeline over a directory of raw exports. */
  def run(spark: SparkSession, rawDir: String, capitalize: Boolean = false): DataFrame = {
    val raw = readTabularFiles(spark, rawDir)
    val named = if (capitalize) capitalizeColNames(raw) else raw
    merge(standardizeDataFrames(cleanDataFrames(assignSource(named))))
  }
}

object MultiSourceAdEtl {

  /** Python `str.capitalize` semantics: first char upper, ALL others lower
    * (`multi_source_ad_etl.py:121`). Identity on non-cased (e.g. Korean)
    * characters. Locale.ROOT: Python's capitalize is locale-independent —
    * a tr-TR default locale would otherwise produce dotless-ı names that
    * match no criteria or mapping.
    */
  def capitalizeName(s: String): String =
    s.toLowerCase(java.util.Locale.ROOT).capitalize

  /** Conform a frame to a declared schema in ONE projection: missing
    * columns become typed nulls, extras are dropped, order is schema order,
    * every column is cast (strict under ANSI mode).
    */
  def conformTo(df: DataFrame, schema: org.apache.spark.sql.types.StructType): DataFrame = {
    val present = df.columns.toSet
    df.select(schema.fields.toIndexedSeq.map { f =>
      val base = if (present.contains(f.name)) Columns.named(f.name) else lit(null)
      base.cast(f.dataType).as(f.name)
    }: _*)
  }

  /** Null-keeping anti-filter: drop rows where `pred` is TRUE, keep rows
    * where it is null — Polars `DataFrame.remove` semantics
    * (`data_clean_lib.py:15-18`, SURVEY §1.4). A naive `filter(!pred)`
    * would also drop null-predicate rows.
    */
  def removeRows(df: DataFrame, pred: org.apache.spark.sql.Column): DataFrame =
    df.filter(!coalesce(pred, lit(false)))
}
