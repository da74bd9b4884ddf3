"""O-14 output sinks: the reference's save / mirror / specific-search
directory layouts, Spark-shaped.

The reference dispatches fetched pages on outputMode (types.h:130-133):
mode 1 "save" writes pages as save/dNNNNN/fNNNNN with filesPerDir=2000
files per directory plus a per-dir `index` of URLs
(save_user_output.cxx:43-119, constants types.h:89-92); mode 2
"mirror" writes a site-tree save/dNNNNN/host[:port]/path with
dNNNNN = hostHashCode % nbDir(1000) and trailing-slash paths saved as
index.html (mirror_user_output.cxx:38-121); specific search saves
privileged-extension docs as specific/dNNNNN/fNNNNN<ext> with the same
2000-per-dir rotation (save_specific_buffer.cxx:37-90).

Here the layout is COLUMNS (dir, fname/rel_path, index_line) computed
with the exact reference naming rules, and the sink is a parquet
table partitioned by dir — at crawl scale a literal file-per-doc dump
is an anti-pattern (10^10 tiny files kill any filesystem and any
driver-side loop); a partitioned columnar table with the same keys is
the Spark-native equivalent, and a downstream `foreachPartition`
export can materialize the literal tree from it when a filesystem
mirror is genuinely wanted. File numbers follow fetch completion
order (fetch_seq), assigned with the two-phase distributed rank — the
success set per crawl is unbounded, so no single-partition window.
"""

from __future__ import annotations

from typing import List

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.exprs import render_spans, site_hash_col
from ..operators.sequence import assign_global_seq

FILES_PER_DIR = 2000   # types.h:89
N_MIRROR_DIRS = 1000   # types.h:92
INDEX_FILE = "index.html"  # types.h:91


def _hostport_path(df: DataFrame) -> DataFrame:
    """Split the canonical url (doc_id) into host[:port] and path.
    doc_id is already canonical (port 80 elided), matching writeUrl
    (url.cxx:433-439)."""
    hp = F.regexp_extract("doc_id", r"^http://([^/]+)", 1)
    path = F.regexp_replace("doc_id", r"^http://[^/]+", "")
    return (df.withColumn("_hostport", hp)
            .withColumn("_host", F.split(hp, ":").getItem(0))
            .withColumn("_path", F.when(path == "", "/").otherwise(path)))


def save_layout(docs_out: DataFrame,
                files_per_dir: int = FILES_PER_DIR,
                url_tags: bool = False) -> DataFrame:
    """Mode-1 layout: the i-th successful page (0-based, fetch_seq
    order) lands at d{i//fpd:05d}/f{i%fpd:05d}; index_line mirrors the
    reference's `"%4u " + writeUrl` record (save_user_output.cxx:89-94),
    or `"%4u (%u) " + writeUrl` when URL_TAGS is on
    (save_user_output.cxx:88-90).
    """
    d = assign_global_seq(docs_out, ["fetch_seq"], "_ord", 0)
    fileno = (F.col("_ord") % files_per_dir).cast("int")
    # integer division (`div`), NOT `/`+cast: float division of a
    # 10^10-scale ordinal can land a hair under the next integer and
    # mis-bucket a file at the dir boundary
    dirno = F.expr(f"_ord div {int(files_per_dir)}").cast("int")
    if url_tags and "tag" in docs_out.columns:
        index_line = F.format_string(
            "%4d (%d) %s", fileno,
            F.coalesce(F.col("tag"), F.lit(0)), F.col("doc_id"))
    else:
        index_line = F.format_string("%4d %s", fileno, F.col("doc_id"))
    return (d.withColumn("dir", F.format_string("d%05d", dirno))
        .withColumn("fname", F.format_string("f%05d", fileno))
        .withColumn("index_line", index_line)
        .drop("_ord"))


def mirror_layout(docs_out: DataFrame,
                  n_dirs: int = N_MIRROR_DIRS,
                  site_list_size: int = None) -> DataFrame:
    """Mode-2 layout: dir = d{siteHashCode(host) % nbDir:05d}, file =
    host[:port]/path with trailing-slash paths saved as index.html
    (mirror_user_output.cxx:46-90).

    site_list_size defaults to the reference's compiled constant
    (types.h:35 — mirror_user_output.cxx hashes with the same
    namedSiteListSize the crawl uses); pass the crawl's configured
    value when the slot space is config-widened so the mirror dirs
    and the crawl hash the same slot space."""
    d = _hostport_path(docs_out)
    rel = F.concat(F.col("_hostport"), F.col("_path"))
    rel = F.when(rel.endswith("/"), F.concat(rel, F.lit(INDEX_FILE))) \
        .otherwise(rel)
    if site_list_size is None:
        from ..kernels.hashes import NAMED_SITE_LIST_SIZE
        site_list_size = NAMED_SITE_LIST_SIZE
    return (d.withColumn(
        "dir", F.format_string(
            "d%05d", site_hash_col("_host", site_list_size) % n_dirs))
        .withColumn("rel_path", rel)
        .drop("_hostport", "_host", "_path"))


def specific_layout(docs_out: DataFrame, privileged_exts: List[str],
                    files_per_dir: int = FILES_PER_DIR) -> DataFrame:
    """Specific-search save buffer: privileged-extension docs only,
    numbered like save mode but with the matched extension appended to
    the file name (getSpecName, save_specific_buffer.cxx:37-44) and a
    two-space index record (newSpec, :90)."""
    d = _hostport_path(docs_out)
    ext = F.lit(None).cast("string")
    for e in reversed(privileged_exts):
        ext = F.when(F.lower("_path").endswith(e.lower()), e).otherwise(ext)
    d = (d.withColumn("_ext", ext).filter(F.col("_ext").isNotNull())
         .drop("_hostport", "_host", "_path"))
    d = assign_global_seq(d, ["fetch_seq"], "_ord", 0)
    return (d.withColumn(
        "dir", F.format_string(
            "d%05d", F.expr(f"_ord div {int(files_per_dir)}").cast("int")))
        .withColumn("fname",
                    F.format_string("f%05d%s",
                                    (F.col("_ord") % files_per_dir)
                                    .cast("int"), F.col("_ext")))
        .withColumn("index_line",
                    F.format_string("%4d  %s",
                                    (F.col("_ord") % files_per_dir)
                                    .cast("int"), F.col("doc_id")))
        .drop("_ord", "_ext"))


def render_content_col(docs_out: DataFrame,
                       out_col: str = "content") -> DataFrame:
    """The page-bytes analogue: render the span sequence exactly like
    the content-dup hash does (kernels/links.render_content), as a
    JVM expression."""
    return docs_out.withColumn(out_col, render_spans("spans"))


def write_docs_out(docs_out: DataFrame, outdir: str, mode: str = "save",
                   privileged_exts: List[str] | None = None,
                   site_list_size: int | None = None) -> None:
    """Materialize one output mode as a dir-partitioned parquet table
    (columns: dir + fname/rel_path + index_line + url + content).

    site_list_size: the crawl's configured named-site slot space
    (CrawlConfig.named_site_list_size) — mirror mode hashes hosts with
    it; pass it whenever the slot space is config-widened so the
    mirror dirs and the crawl hash the same space."""
    if mode == "save":
        laid = save_layout(docs_out)
    elif mode == "mirror":
        laid = mirror_layout(docs_out, site_list_size=site_list_size)
    elif mode == "specific":
        laid = specific_layout(docs_out, privileged_exts or [])
    else:
        raise ValueError(f"unknown output mode {mode!r}")
    laid = render_content_col(laid)
    (laid.withColumnRenamed("doc_id", "url").drop("spans")
     .write.mode("overwrite").partitionBy("dir").parquet(outdir))
