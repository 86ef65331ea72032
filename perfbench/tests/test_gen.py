"""Seeded generators: same seed → byte-identical inputs, other seed →
different inputs, fixed size distribution across seeds."""

import hashlib
import os

import pytest

from perfbench import gen


def _files_digest(root: str) -> str:
    h = hashlib.sha256()
    for d, _, files in sorted(os.walk(root)):
        for f in sorted(files):
            with open(os.path.join(d, f), "rb") as fh:
                h.update(f.encode() + fh.read())
    return h.hexdigest()


@pytest.mark.parametrize("workload", sorted(gen.REASONS))
def test_same_seed_is_byte_identical_other_seed_differs(tmp_path, workload):
    a = gen.generate(workload, 7, str(tmp_path / "a"))
    b = gen.generate(workload, 7, str(tmp_path / "b"))
    c = gen.generate(workload, 8, str(tmp_path / "c"))
    assert a.docs == b.docs == c.docs > 0
    assert _files_digest(str(tmp_path / "a")) == _files_digest(str(tmp_path / "b"))
    assert _files_digest(str(tmp_path / "a")) != _files_digest(str(tmp_path / "c"))


@pytest.mark.parametrize("workload", sorted(gen.REASONS))
def test_every_workload_has_a_one_line_reason(workload):
    reason = gen.REASONS[workload]
    assert reason and "\n" not in reason


def test_long_media_sizes_are_heavy_tailed_and_seed_independent():
    sizes = gen.long_media_sizes(gen.LONG_MEDIA_DOCS)
    assert min(sizes) >= gen.LONG_MEDIA_MIN_BYTES
    assert max(sizes) <= gen.LONG_MEDIA_MAX_BYTES
    assert max(sizes) > 20 * sorted(sizes)[len(sizes) // 2]
    totals = {sum(len(p[1]) for p in gen.long_media_pages(s, 40)) for s in (1, 2)}
    lo, hi = min(totals), max(totals)
    assert hi / lo < 1.02


def test_long_media_article_text_never_carries_the_boilerplate_mark():
    for _doc_id, html, paras, images in gen.long_media_pages(3, 20):
        assert gen.BOILERPLATE_MARK in html
        assert all(gen.BOILERPLATE_MARK not in p for p in paras)
        assert all(src in html for src in images)


def test_pipeline_duplicate_fractions():
    rows = gen.pipeline_rows(5)
    norm = [" ".join(r[1].lower().split()) for r in rows]
    exact_dups = len(norm) - len(set(norm))
    assert exact_dups >= int(len(rows) * gen.PIPELINE_EXACT_DUP_FRAC) * 0.9
    assert len({r[0] for r in rows}) == len(rows)
