"""Registry lifecycle semantics — mirrors the reference's integ suite
(/root/reference/integ/test_integ.py:74-395) and tests/test_setmgr.c."""

import numpy as np
import pytest

from hlld_spark.core import hll
from hlld_spark.core.hashing import hll_hash
from hlld_spark.registry import (
    DELETE_IN_PROGRESS,
    DONE,
    EXISTS,
    SET_NOT_FOUND,
    HlldError,
    SketchRegistry,
)


@pytest.fixture()
def reg(tmp_path):
    return SketchRegistry(str(tmp_path / "data"))


def test_create_done_then_exists(reg):
    assert reg.create("foobar") == DONE
    assert reg.create("foobar") == EXISTS


def test_default_precision_from_eps(reg):
    reg.create("d")
    info = reg.info("d")
    assert info["precision"] == 12  # default eps 0.02 → p12 (src/config.c:26-27)
    assert info["eps"] == pytest.approx(0.01625)  # re-derived from p


def test_create_with_eps(reg):
    reg.create("e", eps=0.01)
    assert reg.info("e")["precision"] == 14


def test_bad_names(reg):
    for bad in ("", "has space", "has\ttab", "x" * 201, "nl\n"):
        with pytest.raises(HlldError, match="Bad set name"):
            reg.create(bad)
    assert reg.create("x" * 200) == DONE  # boundary: exactly 200 ok


def test_set_into_missing(reg):
    with pytest.raises(HlldError, match=SET_NOT_FOUND):
        reg.set("nope", "k")


def test_set_bulk_info(reg):
    reg.create("s")
    assert reg.set("s", "a") == DONE
    assert reg.bulk("s", [f"test{i}" for i in range(100)]) == DONE
    info = reg.info("s")
    assert info["sets"] == 101
    assert 95 < info["size"] < 107
    assert info["storage"] == 3280


def test_list_prefix_sorted(reg):
    for n in ("zoo", "bar", "baz", "apple"):
        reg.create(n)
    names = [r["name"] for r in reg.list()]
    assert names == ["apple", "bar", "baz", "zoo"]
    assert [r["name"] for r in reg.list("ba")] == ["bar", "baz"]
    assert reg.list("nomatch") == []


def test_drop_then_recreate(reg):
    reg.create("d")
    reg.set("d", "k")
    assert reg.drop("d") == DONE
    with pytest.raises(HlldError, match=SET_NOT_FOUND):
        reg.info("d")
    assert reg.create("d") == DONE
    assert reg.info("d")["size"] == 0  # fresh set, no leftover state


def test_pending_delete_blocks_create(reg):
    """create/drop/create race — integ/test_integ.py:356-377."""
    reg.create("p")
    reg.drop("p", defer_vacuum=True)
    assert reg.create("p") == DELETE_IN_PROGRESS
    with pytest.raises(HlldError, match=SET_NOT_FOUND):
        reg.set("p", "k")
    reg.vacuum()
    assert reg.create("p") == DONE


def test_close_pages_out_and_auto_fault_in(reg):
    """unmap → add auto-faults-in — tests/test_setmgr.c:323-351."""
    reg.create("c")
    reg.bulk("c", ["a", "b", "c"])
    assert reg.close("c") == DONE
    info = reg.info("c")
    assert info["page_outs"] == 1
    assert info["size"] == pytest.approx(3, abs=0.1)  # cached size, no fault-in
    assert reg.info("c")["page_ins"] == 0  # reads never fault in (src/set.c:297-303)
    reg.set("c", "d")  # write faults in
    info = reg.info("c")
    assert info["page_ins"] == 1
    assert info["size"] == pytest.approx(4, abs=0.1)


def test_clear_requires_proxied(reg):
    """clear on a hot set errors; close→clear→recreate restores state ==3
    — tests/test_setmgr.c:430-470, integ/test_integ.py:160-195."""
    reg.create("cl")
    reg.bulk("cl", ["a", "b", "c"])
    with pytest.raises(HlldError, match="not proxied"):
        reg.clear("cl")
    reg.close("cl")
    assert reg.clear("cl") == DONE
    with pytest.raises(HlldError, match=SET_NOT_FOUND):
        reg.info("cl")
    assert reg.create("cl") == DONE  # rediscovers on-disk data
    assert reg.info("cl")["size"] == pytest.approx(3, abs=0.1)
    reg.set("cl", "d")
    assert reg.info("cl")["size"] == pytest.approx(4, abs=0.1)


def test_flush_writes_two_files_and_is_idempotent(reg, tmp_path):
    import os

    reg.create("f")
    reg.bulk("f", [f"k{i}" for i in range(50)])
    reg.flush("f")
    d = os.path.join(str(tmp_path / "data"), "hlld.f")
    assert sorted(os.listdir(d)) == ["config.ini", "registers.mmap"]
    m1 = os.path.getmtime(os.path.join(d, "registers.mmap"))
    reg.flush("f")  # clean → no rewrite (src/set.c:166-168)
    assert os.path.getmtime(os.path.join(d, "registers.mmap")) == m1
    assert os.path.getsize(os.path.join(d, "registers.mmap")) == hll.bytes_for_precision(12)


def test_persistence_roundtrip_identical_size(reg, tmp_path):
    """flush/close → reopen ⇒ identical estimate — tests/test_set.c:159-236."""
    reg.create("pr", precision=14)
    reg.bulk("pr", [f"test{i}" for i in range(10000)])
    size_before = reg.info("pr")["size"]
    assert 9900 < size_before < 10100
    reg.flush()
    reg2 = SketchRegistry(str(tmp_path / "data"))
    # proxied reads serve the cached size, which the reference stores as
    # uint64 (set_config.size, src/set.c:171) — %llu truncation expected
    assert reg2.info("pr")["size"] == int(size_before)
    reg2.set("pr", "test0")  # idempotent add after fault-in
    assert reg2.info("pr")["size"] == size_before


def test_mmap_bytes_are_reference_layout(reg, tmp_path):
    import os

    reg.create("m", precision=10)
    reg.bulk("m", [f"test{i}" for i in range(1000)])
    reg.flush("m")
    raw = open(os.path.join(str(tmp_path / "data"), "hlld.m", "registers.mmap"), "rb").read()
    regs = hll.new_registers(10)
    hll.add_hashes(regs, hll_hash([f"test{i}" for i in range(1000)]), 10)
    assert raw == hll.to_hlld_bytes(regs)


def test_merge_registers_precision_mismatch(reg):
    reg.create("mm", precision=10)
    with pytest.raises(HlldError, match="precision mismatch"):
        reg.merge_registers("mm", hll.new_registers(12))


def test_in_memory_close_is_noop(reg):
    reg.create("im", in_memory=True)
    reg.bulk("im", ["a"])
    assert reg.close("im") == DONE
    assert reg.info("im")["page_outs"] == 0
    assert reg.info("im")["size"] == pytest.approx(1, abs=0.1)


def test_registry_stress_10k_names_prefix_iteration(reg):
    """FIXTURES.md F2 'words' analog: ~10k deterministic pseudo-words
    through create/list/prefix/drop (mirrors the reference's ART stress,
    tests/test_art.c, without copying its word list)."""
    import numpy as np

    rng = np.random.RandomState(42)
    syll = ["ka", "ro", "mi", "ta", "lu", "en", "vo", "shi", "pa", "de"]
    pool = set()
    for n in range(12000):
        word = "".join(syll[i] for i in rng.randint(0, 10, size=4)) + str(n % 7)
        pool.add(word)
    words = sorted(pool)[:10000]  # deterministic; dedupe may shrink the pool
    for w in words:
        assert reg.create(w) == "Done"
    listed = [r["name"] for r in reg.list()]
    assert listed == sorted(words)  # ART iteration order = sorted
    # prefix iteration
    prefix = words[len(words) // 2][:3]
    expect = sorted(w for w in words if w.startswith(prefix))
    assert [r["name"] for r in reg.list(prefix)] == expect
    assert len(expect) >= 1
    # drop half, re-list
    for w in words[::2]:
        reg.drop(w)
    remaining = [r["name"] for r in reg.list()]
    assert remaining == sorted(words[1::2])
