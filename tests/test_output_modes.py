"""O-14 save/mirror/specific layout parity: the (dir, fname) naming
must reproduce the reference's counters and rules exactly
(save_user_output.cxx:43-119, mirror_user_output.cxx:38-121,
save_specific_buffer.cxx:37-90, constants types.h:89-92)."""

import pytest
from pyspark.sql import functions as F

from larbin_spark.kernels.hashes import site_hash
from larbin_spark.sources.output_modes import (
    mirror_layout, render_content_col, save_layout, specific_layout,
    write_docs_out,
)


def _docs_out(spark, urls):
    rows = [(0, i * 10 + 3, u,
             [{"kind": "text", "text": f"body {i}", "media_ref": None,
               "offset": 0}])
            for i, u in enumerate(urls)]
    return spark.createDataFrame(
        rows, "round int, fetch_seq long, doc_id string, spans "
        "array<struct<kind:string,text:string,media_ref:string,offset:int>>")


def test_save_layout_dir_rotation(spark):
    urls = [f"http://h.com/p{i}" for i in range(4100)]
    out = save_layout(_docs_out(spark, urls), files_per_dir=2000)
    rows = {r["doc_id"]: r for r in out.collect()}
    # i-th success (fetch_seq order) -> d{i//2000}/f{i%2000}
    assert rows["http://h.com/p0"]["dir"] == "d00000"
    assert rows["http://h.com/p0"]["fname"] == "f00000"
    assert rows["http://h.com/p1999"]["dir"] == "d00000"
    assert rows["http://h.com/p1999"]["fname"] == "f01999"
    assert rows["http://h.com/p2000"]["dir"] == "d00001"
    assert rows["http://h.com/p2000"]["fname"] == "f00000"
    assert rows["http://h.com/p4099"]["dir"] == "d00002"
    assert rows["http://h.com/p4099"]["fname"] == "f00099"
    # index record: "%4u " + canonical url (save_user_output.cxx:89)
    assert rows["http://h.com/p7"]["index_line"] == "   7 http://h.com/p7"
    assert rows["http://h.com/p2000"]["index_line"] == \
        "   0 http://h.com/p2000"


def test_mirror_layout_paths(spark):
    urls = ["http://a.com/x/y.html", "http://a.com/dir/",
            "http://b.com:8080/z"]
    out = mirror_layout(_docs_out(spark, urls))
    rows = {r["doc_id"]: r for r in out.collect()}
    # dir = siteHashCode(host) % 1000, zero-padded 5
    assert rows["http://a.com/x/y.html"]["dir"] == \
        f"d{site_hash('a.com') % 1000:05d}"
    assert rows["http://a.com/x/y.html"]["rel_path"] == "a.com/x/y.html"
    # trailing slash -> index.html (mirror_user_output.cxx:88-90)
    assert rows["http://a.com/dir/"]["rel_path"] == "a.com/dir/index.html"
    # non-80 port stays in the path root (mirror_user_output.cxx:55-58)
    assert rows["http://b.com:8080/z"]["dir"] == \
        f"d{site_hash('b.com') % 1000:05d}"
    assert rows["http://b.com:8080/z"]["rel_path"] == "b.com:8080/z"


def test_mirror_mode_threads_slot_space(spark, tmp_path):
    """write_docs_out(mode='mirror') must hash hosts with the CRAWL'S
    configured named-site slot space, not the compiled default — a
    config-widened crawl (e.g. --named-site-list-size 200000) and its
    mirror dirs must agree on siteHashCode."""
    urls = ["http://a.com/x/y.html", "http://b.com/z"]
    wide = 200_000
    out = str(tmp_path / "mirror_mode")
    write_docs_out(_docs_out(spark, urls), out, mode="mirror",
                   site_list_size=wide)
    back = {r["url"]: r for r in spark.read.parquet(out).collect()}
    for host, url in (("a.com", "http://a.com/x/y.html"),
                      ("b.com", "http://b.com/z")):
        assert back[url]["dir"] == f"d{site_hash(host, wide) % 1000:05d}"


def test_specific_layout_ext_suffix(spark):
    urls = ["http://h.com/a.pdf", "http://h.com/b.html",
            "http://h.com/c.pdf", "http://h.com/d.ps"]
    out = specific_layout(_docs_out(spark, urls), [".pdf", ".ps"])
    rows = sorted((r["fetch_seq"], r["fname"], r["index_line"])
                  for r in out.collect())
    # only privileged extensions, renumbered densely in fetch order,
    # extension appended to the file name (getSpecName)
    assert rows == [
        (3, "f00000.pdf", "   0  http://h.com/a.pdf"),
        (23, "f00001.pdf", "   1  http://h.com/c.pdf"),
        (33, "f00002.ps", "   2  http://h.com/d.ps"),
    ]


def test_write_docs_out_partitioned(spark, tmp_path):
    urls = [f"http://h.com/p{i}" for i in range(10)]
    out = str(tmp_path / "save_mode")
    write_docs_out(_docs_out(spark, urls), out, mode="save")
    back = spark.read.parquet(out)
    assert back.count() == 10
    assert set(back.columns) >= {"dir", "fname", "index_line", "url",
                                 "content"}
    assert back.filter(F.col("content").contains("body 3")).count() == 1
    # partition pruning works on the dir key
    assert back.filter(F.col("dir") == "d00000").count() == 10


def test_render_content_matches_dup_hash_input(spark):
    """The rendered content must be byte-identical to what the
    content-dup gate hashes (kernels/links.render_content)."""
    from larbin_spark.kernels.links import render_content
    d = _docs_out(spark, ["http://h.com/x"])
    got = render_content_col(d).collect()[0]["content"]
    assert got == render_content([("text", "body 0", None, 0)])

    # several spans out of offset order, offset ties (the sort is
    # stable: ties keep their array order), a media span (its
    # media_ref, not its text) and a NULL text (renders as '')
    cases = [
        [("text", "c", None, 30), ("anchor", "a", None, 10),
         ("text", "b", None, 20)],
        [("text", "x", None, 5), ("text", "y", None, 5),
         ("anchor", "z", None, 1), ("text", "w", None, 5)],
        [("text", "t", "ignored", 0), ("media", "alt", "img.png", 1),
         ("media", None, None, 2)],
        [("text", None, None, 0), ("text", "after", None, 1)],
    ]
    rows = [(0, i, f"http://h.com/{i}",
             [{"kind": k, "text": t, "media_ref": m, "offset": o}
              for k, t, m, o in spans])
            for i, spans in enumerate(cases)]
    d = spark.createDataFrame(
        rows, "round int, fetch_seq long, doc_id string, spans "
        "array<struct<kind:string,text:string,media_ref:string,offset:int>>")
    got = {r["fetch_seq"]: r["content"]
           for r in render_content_col(d).collect()}
    assert got == {i: render_content(spans) for i, spans in enumerate(cases)}


def test_save_layout_url_tags_index(spark):
    """URL_TAGS index record: "%4u (%u) " + url
    (save_user_output.cxx:88-90)."""
    rows = [(0, 3, "http://h.com/a", [], 137),
            (0, 13, "http://h.com/b", [], 0)]
    d = spark.createDataFrame(
        rows, "round int, fetch_seq long, doc_id string, spans "
        "array<struct<kind:string,text:string,media_ref:string,"
        "offset:int>>, tag int")
    out = {r["doc_id"]: r["index_line"]
           for r in save_layout(d, url_tags=True).collect()}
    assert out["http://h.com/a"] == "   0 (137) http://h.com/a"
    assert out["http://h.com/b"] == "   1 (0) http://h.com/b"
