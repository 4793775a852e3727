"""The one directory swap (``util.swap_dir``): a crash at any step leaves
the destination with the old data or the new, each with every sidecar, once
the entry recovery (``util.recover_swap``) has run. Plain directories, no
Spark job."""

import os
import shutil

import pytest

from logagg import util

OLD = {"part-0": "old", "_SUCCESS": "", "_a_ledger/batch-0.json": "{}", "_b_note": "n"}
NEW = {"part-0": "new", "part-1": "new", "_SUCCESS": ""}
SIDECARS = {k: v for k, v in OLD.items() if k.startswith("_a") or k.startswith("_b")}


def _write(root, files):
    for rel, text in files.items():
        p = os.path.join(root, rel)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        with open(p, "w") as f:
            f.write(text)


def _tree(root):
    out = {}
    for base, _, names in os.walk(root):
        for name in names:
            p = os.path.join(base, name)
            with open(p) as f:
                out[os.path.relpath(p, root)] = f.read()
    return out


def _swap(dest):
    with util.swap_dir(dest) as nxt:
        _write(nxt, NEW)


# (function that dies, the path its failing call names, state that survives)
CRASHES = {
    "mid-carry": ("shutil.copy2", "_b_note", OLD),
    "at-rename-aside": ("os.rename", "dest", OLD),
    "after-rename-aside": ("os.rename", "dest__next", {**NEW, **SIDECARS}),
    "before-old-delete": ("shutil.rmtree", "dest__old", {**NEW, **SIDECARS}),
}


@pytest.mark.parametrize("window", sorted(CRASHES))
def test_swap_dir_crash_windows_recover(tmp_path, monkeypatch, window):
    dest = str(tmp_path / "dest")
    _write(dest, OLD)
    target, name, survives = CRASHES[window]
    mod, attr = target.split(".")
    owner = {"os": os, "shutil": shutil}[mod]
    real = getattr(owner, attr)

    def dying(path, *args, **kwargs):
        if os.path.basename(os.fspath(path)) == name:
            raise OSError(f"killed at {window}")
        return real(path, *args, **kwargs)

    monkeypatch.setattr(owner, attr, dying)
    with pytest.raises(OSError, match="killed"):
        _swap(dest)
    monkeypatch.undo()

    util.recover_swap(dest)
    assert _tree(dest) == survives
    assert not os.path.exists(f"{dest}__next") and not os.path.exists(f"{dest}__old")
    _swap(dest)  # the next swap completes from the recovered state
    assert _tree(dest) == {**NEW, **SIDECARS}


def test_swap_dir_first_write_and_restore_old(tmp_path):
    """A first swap has no old dir to carry from; a dead swap whose staging
    dir never finished puts the set-aside old dir back."""
    dest = str(tmp_path / "dest")
    _swap(dest)
    assert _tree(dest) == NEW
    os.rename(dest, f"{dest}__old")
    _write(f"{dest}__next", {"part-9": "half"})  # no _SUCCESS
    util.recover_swap(dest)
    assert _tree(dest) == NEW
    assert not os.path.exists(f"{dest}__next") and not os.path.exists(f"{dest}__old")
