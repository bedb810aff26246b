"""End-to-end Fetch pipeline parity vs the pure-Python oracle on the
synthetic fixture: crawl order, selected sets, budget cutoffs, extraction
output and per-row span-sequence equality (the north-rule invariant)."""

from __future__ import annotations

import dataclasses
import gzip
import os

import pytest

from commoncrawl_fetcher_lite_spark.config import (
    ExtractorConfig,
    FetchConfig,
    from_json_dict,
)
from commoncrawl_fetcher_lite_spark.fixtures import warc_local_path
from commoncrawl_fetcher_lite_spark.plans.fetch_pipeline import run_fetch
from commoncrawl_fetcher_lite_spark.sources.cdx import (
    expand_index_paths,
    parse_cdx,
    read_cdx_lines,
)
from tests import oracle

SELECTOR = {
    "must": {"status": [{"match": "200"}]},
    "should": {
        "mime_detected": [
            {"match": "text/html"},
            {"match": "video/mp4"},
            {"match": "application/pdf"},
        ]
    },
}


def _oracle_files(fx) -> list[list[str]]:
    return [fx.lines_per_file[p] for p in fx.index_paths]


def test_expand_index_paths(fixture_t1):
    fx = fixture_t1
    paths = expand_index_paths([fx.paths_gz])
    # comment + non-.gz line skipped, order preserved
    assert paths == fx.index_paths
    assert expand_index_paths([fx.paths_gz], max_index_files=2) == fx.index_paths[:2]


def test_parse_parity(spark, fixture_t1):
    """Engine parse (P1-P3) row set == oracle parse over the same lines."""
    fx = fixture_t1
    recs = parse_cdx(read_cdx_lines(spark, fx.index_paths))
    got = {
        (r["index_file_seq"], r["line_no"]): (r["url"], r["mime_detected"], r["status"])
        for r in recs.collect()
    }
    want = {}
    for seq, lines in enumerate(_oracle_files(fx)):
        line_no = -1
        for raw in lines:
            if raw.strip() == "":
                continue
            line_no += 1
            rec = oracle.parse_record(raw)
            if rec is None:
                continue
            want[(seq, line_no)] = (
                rec["url"],
                rec["mime-detected"],
                int(rec["status"]) if rec["status"] is not None else None,
            )
    assert got == want


@pytest.mark.parametrize(
    "budgets",
    [
        dict(),
        dict(max_records=500),
        dict(max_files_extracted=120),
        dict(max_files_truncated=12),
        dict(max_records=700, max_files_extracted=150, max_files_truncated=20),
        dict(max_files_extracted=150, extract_truncated=True),
    ],
)
def test_fetch_dry_run_parity(spark, fixture_t1, budgets):
    """Dry-run: selected sets + budget cutoffs in canonical order match the
    serial oracle replay exactly."""
    fx = fixture_t1
    extract_truncated = budgets.pop("extract_truncated", False)
    cfg = ExtractorConfig(
        index_paths=(fx.paths_gz,),
        selector=SELECTOR,
        dry_run=True,
        extract_truncated=extract_truncated,
        **{k: v for k, v in budgets.items()},
    )
    res = run_fetch(spark, cfg)
    got_extract = {
        (r["index_file_seq"], r["line_no"])
        for r in res.would_extract.select("index_file_seq", "line_no").collect()
    }
    got_trunc = {
        (r["index_file_seq"], r["line_no"])
        for r in res.truncated_logged.select("index_file_seq", "line_no").collect()
    }

    ores = oracle.process_stream(
        _oracle_files(fx),
        selector=SELECTOR,
        extract_truncated=extract_truncated,
        **{k: v for k, v in budgets.items()},
    )
    want_extract = {(s, ln) for s, ln, _ in ores.extract_branch}
    want_trunc = {(s, ln) for s, ln, _ in ores.trunc_logged}
    assert got_extract == want_extract
    assert got_trunc == want_trunc


def test_extraction_and_span_parity(spark, fixture_t1):
    """Full (non-dry) run: extracted rows, digest verification, target
    paths, and per-row span sequences equal the oracle's."""
    fx = fixture_t1
    cfg = ExtractorConfig(
        index_paths=(fx.paths_gz,),
        selector=SELECTOR,
        target_path_pattern="xx/xx/xxx",
    )
    res = run_fetch(
        spark, cfg, path_resolver=lambda f: warc_local_path(fx.root, f)
    )
    got = {
        r["url"]: (
            r["sha256"],
            r["digest_ok"],
            r["path"],
            tuple(
                (s["kind"], s["text"], s["media_ref"], s["offset"])
                for s in r["spans"]
            ),
        )
        for r in res.extracted.collect()
    }

    # oracle replay
    ores = oracle.process_stream(_oracle_files(fx), selector=SELECTOR)
    warc_bytes = {}
    want = {}
    for _, _, rec in ores.extract_branch:
        f = rec["filename"]
        if f not in warc_bytes:
            with open(warc_local_path(fx.root, f), "rb") as fh:
                warc_bytes[f] = fh.read()
        doc = oracle.extract_doc(rec, warc_bytes[f], "xx/xx/xxx")
        if doc is None:
            continue  # empty payload / unprocessable — engine must skip too
        want[rec["url"]] = (
            doc["sha256"],
            doc["digest_ok"],
            doc["path"],
            tuple(doc["spans"]),
        )

    assert set(got) == set(want)
    mismatches = {u: (got[u], want[u]) for u in got if got[u] != want[u]}
    assert not mismatches, f"{len(mismatches)} mismatched docs: {list(mismatches)[:3]}"


def test_docs_table_shape(spark, fixture_t1):
    """docs output conforms to BASELINE.json input_hint exactly."""
    fx = fixture_t1
    cfg = ExtractorConfig(index_paths=(fx.paths_gz,), selector=SELECTOR)
    res = run_fetch(spark, cfg, path_resolver=lambda f: warc_local_path(fx.root, f))
    assert res.docs.schema.simpleString() == (
        "struct<doc_id:string,spans:array<struct<"
        "kind:string,text:string,media_ref:string,offset:int>>>"
    )
    assert res.docs.count() > 0


def test_discover_index_paths_dirwalk(tmp_path):
    """S2: dir-walk registration (IndexIterator.java:168-175) — every
    regular file under indices.basePath registers; the normal dispatch then
    expands path lists and validates literal index names."""
    import gzip as _gzip

    from commoncrawl_fetcher_lite_spark.sources.cdx import (
        discover_index_paths,
        index_paths_for_config,
    )

    base = tmp_path / "cc"
    (base / "collections" / "indexes").mkdir(parents=True)
    lit1 = base / "collections" / "indexes" / "cdx-00001.gz"
    lit2 = base / "collections" / "indexes" / "cdx-00002.gz"
    lit1.write_bytes(_gzip.compress(b"line\n"))
    lit2.write_bytes(_gzip.compress(b"line\n"))

    rel = discover_index_paths(str(base))
    assert rel == [
        "collections/indexes/cdx-00001.gz",
        "collections/indexes/cdx-00002.gz",
    ]

    cfg = ExtractorConfig(index_base_path=str(base))
    expanded = index_paths_for_config(cfg)
    assert expanded == [str(lit1), str(lit2)]

    # non-index junk under the dir → hard error, like the reference's
    # TikaConfigException (IndexIterator.java:159-163)
    (base / "notes.txt").write_text("junk")
    import pytest as _pytest

    with _pytest.raises(ValueError):
        index_paths_for_config(ExtractorConfig(index_base_path=str(base)))


def test_index_base_path_reaches_fetch_and_count_mimes(spark, fixture_t1, tmp_path):
    """A config with only indices.basePath set: the dry-run Fetch and
    CountMimes read the discovered index files' records, the same as a
    config listing those files in indices.paths."""
    import shutil

    from commoncrawl_fetcher_lite_spark.plans.mime_pipeline import (
        run_count_mimes,
    )

    fx = fixture_t1
    base = tmp_path / "cc"
    (base / "indexes").mkdir(parents=True)
    copied = []
    for p in fx.index_paths:
        dst = base / "indexes" / os.path.basename(p)
        shutil.copyfile(p, dst)
        copied.append(str(dst))

    by_base = ExtractorConfig(
        index_base_path=str(base), selector=SELECTOR, dry_run=True
    )
    by_paths = ExtractorConfig(
        index_paths=tuple(copied), selector=SELECTOR, dry_run=True
    )

    got = {
        (r["index_file_seq"], r["line_no"])
        for r in run_fetch(spark, by_base)
        .would_extract.select("index_file_seq", "line_no")
        .collect()
    }
    ores = oracle.process_stream(_oracle_files(fx), selector=SELECTOR)
    assert got and got == {(s, ln) for s, ln, _ in ores.extract_branch}

    mimes = sorted(tuple(r) for r in run_count_mimes(spark, by_base).collect())
    assert mimes
    assert mimes == sorted(
        tuple(r) for r in run_count_mimes(spark, by_paths).collect()
    )


def test_extract_payloads_warn_and_skip(spark, fixture_t1):
    """One missing/unreadable WARC must not fail the job: the bad record is
    skipped with a warning (FileFromCCWarcExtractor.fetchToPath catches and
    returns), all other records still extract."""
    from commoncrawl_fetcher_lite_spark.sources.warc import extract_payloads

    fx = fixture_t1
    recs = parse_cdx(read_cdx_lines(spark, fx.index_paths)).where(
        "status = 200 AND filename IS NOT NULL"
    )
    n_all = extract_payloads(
        recs, lambda f: warc_local_path(fx.root, f)
    ).count()
    assert n_all > 0

    def flaky_resolver(f):
        p = warc_local_path(fx.root, f)
        return p + ".does-not-exist" if f.endswith("0.warc.gz") else p

    out = extract_payloads(recs, flaky_resolver)
    n_ok = out.where("read_error IS NULL").count()
    n_err = out.where("read_error IS NOT NULL").count()
    assert 0 < n_ok < n_all
    # the skips are VISIBLE as read_error rows, not silently dropped
    assert n_err == n_all - n_ok
    assert "FileNotFoundError" in out.where("read_error IS NOT NULL").first()[
        "read_error"
    ]


def test_extract_payloads_systematic_bug_fails_task(spark, fixture_t1):
    """warn-and-continue covers IO-shaped errors ONLY (the reference catches
    TikaException/IOException, not Throwable): a transport raising a
    non-IO exception on every record — a code bug — must FAIL the job, not
    produce an empty 'successful' output."""
    import pytest

    from commoncrawl_fetcher_lite_spark.sources.warc import extract_payloads

    fx = fixture_t1
    recs = parse_cdx(read_cdx_lines(spark, fx.index_paths)).where(
        "status = 200 AND filename IS NOT NULL"
    )

    class BrokenTransport:
        def fetch(self, key, start=None, end=None):
            raise TypeError("systematically broken fetcher")

    with pytest.raises(Exception, match="TypeError|systematically broken"):
        extract_payloads(recs, fetcher_factory=BrokenTransport).count()


def test_local_fs_transport_reuses_handle_per_key(tmp_path, monkeypatch):
    """The fs reader opens a file once across consecutive reads of one key
    and reopens only when the key changes (offset-sorted records of one
    WARC read through one handle)."""
    from commoncrawl_fetcher_lite_spark.sources import fetcher

    for name in ("a", "b"):
        (tmp_path / name).write_bytes(name.encode() * 10)
    opened = []

    def counting_open(path, mode="r"):
        opened.append(os.path.basename(path))
        return open(path, mode)

    monkeypatch.setattr(fetcher, "open", counting_open, raising=False)
    t = fetcher.local_fs_transport(lambda k: str(tmp_path / k))
    assert [t("a", 0, 1), t("a", 4, 6), t("a", None, None)] == [
        b"aa", b"aaa", b"a" * 10,
    ]
    assert opened == ["a"]
    assert t("b", 2, 3) == b"bb" and t("a", 9, 9) == b"a"
    assert opened == ["a", "b", "a"]


def test_fetcher_base_path_config_fetches_without_resolver(spark, fixture_t1):
    """A `fetcher.basePath` config needs no path_resolver: the fs transport
    reads basePath/basename(key), the same records the resolver run reads,
    with no read errors."""
    fx = fixture_t1
    cfg = ExtractorConfig(index_paths=(fx.paths_gz,), selector=SELECTOR)

    def docs(res):
        return {
            (r["url"], r["sha256"],
             tuple((s["kind"], s["text"], s["media_ref"]) for s in r["spans"]))
            for r in res.extracted.collect()
        }

    want = docs(
        run_fetch(spark, cfg, path_resolver=lambda f: warc_local_path(fx.root, f))
    )
    fs_cfg = dataclasses.replace(
        cfg, fetch=FetchConfig(kind="fs", base_path=os.path.join(fx.root, "warcs"))
    )
    via_config = run_fetch(spark, fs_cfg)
    assert want and docs(via_config) == want
    assert via_config.metrics["observation"].get["read_errors"] == 0
