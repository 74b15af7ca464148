"""Pinned benchmark corpus and the prebuilt index it is served from.

The corpus is a subtree of the installed pyspark package, not of this
repository, so editing the program never changes the benchmark's input.
``corpus.json`` pins the package version, the file count and a content
hash; a run refuses to start when the installed tree differs.

Indexing the corpus from scratch costs about a minute of Spark jobs, more
than one timed run can spend, so the first run in a checkout builds the
index once (plus the postings and IVF serving indexes), in a separate
process so that every timed run starts from an equally cold JVM, and
caches it under ``.perfbench/cache/<key>``. The key hashes the corpus, the
program sources and this module, so any change to the program builds a
new entry; entries of other keys are kept, so runs of two program
versions can alternate in one checkout. Every run then restores a
private copy into ``.perfbench/work``.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
WORK = os.path.join(STATE, "work")
PROJ = os.path.join(WORK, "proj")
STORE = os.path.join(WORK, "store")
PIN = os.path.join(HERE, "corpus.json")

# needle functions appended to the corpus before the cached index is
# built; each name is one BM25 token, so keyword search must find it
N_NEEDLES = 16


def alpha(n: int) -> str:
    """A non-negative int spelt in letters (one tokenizer token)."""
    s = ""
    while True:
        s = chr(97 + n % 26) + s
        n //= 26
        if n == 0:
            return s


def needle_name(i: int) -> str:
    return f"pbneedle{alpha(i)}"


def tree_hash(root: str, suffixes: tuple[str, ...] | None = None) -> tuple[int, str]:
    h, n = hashlib.sha256(), 0
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames[:] = sorted(d for d in dirnames if d != "__pycache__")
        for name in sorted(filenames):
            if suffixes and not name.endswith(suffixes):
                continue
            p = os.path.join(dirpath, name)
            with open(p, "rb") as fh:
                digest = hashlib.sha256(fh.read()).hexdigest()
            h.update(f"{os.path.relpath(p, root)}\0{digest}\n".encode())
            n += 1
    return n, h.hexdigest()


def source_tree() -> tuple[str, dict]:
    """(installed subtree path, its observed pin fields)."""
    import pyspark

    with open(PIN) as fh:
        pin = json.load(fh)
    src = os.path.join(os.path.dirname(pyspark.__file__), pin["subtree"])
    n, digest = tree_hash(src)
    return src, {"package": "pyspark", "version": pyspark.__version__,
                 "subtree": pin["subtree"], "files": n, "sha256": digest}


def check_pin() -> dict:
    """Raise unless the installed corpus matches corpus.json exactly."""
    with open(PIN) as fh:
        pin = json.load(fh)
    _, seen = source_tree()
    if seen != pin:
        raise SystemExit(f"corpus differs from {PIN}: expected {pin}, found {seen}")
    return seen


def program_hash() -> str:
    return tree_hash(os.path.join(ROOT, "claude_code_memory_spark"), (".py",))[1]


def cache_key(pin: dict) -> str:
    """Corpus, program and this build procedure: what the cached index
    depends on."""
    h = hashlib.sha256()
    h.update(pin["sha256"].encode())
    h.update(program_hash().encode())
    with open(os.path.abspath(__file__), "rb") as fh:
        h.update(fh.read())
    return h.hexdigest()[:16]


def python_files(root: str) -> list[str]:
    """Relative paths of the corpus's .py files, sorted."""
    out = []
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames[:] = sorted(d for d in dirnames if d != "__pycache__")
        out += [os.path.relpath(os.path.join(dirpath, f), root)
                for f in sorted(filenames) if f.endswith(".py")]
    return sorted(out)


def inject_needles(proj: str) -> dict[str, str]:
    """Append N_NEEDLES uniquely named functions, round-robin over the
    non-package .py files; returns needle name -> relative path."""
    files = [f for f in python_files(proj) if not f.endswith("__init__.py")]
    where = {}
    for i in range(N_NEEDLES):
        rel, name = files[i % len(files)], needle_name(i)
        with open(os.path.join(proj, rel), "a") as fh:
            fh.write(f"\n\ndef {name}(value):\n"
                     f'    """Benchmark needle {i}: returns its argument."""\n'
                     f"    return value\n")
        where[name] = rel
    return where


def _fresh_work() -> None:
    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(WORK)


def cache_dir(pin: dict) -> str:
    return os.path.join(STATE, "cache", cache_key(pin))


def restore(pin: dict) -> dict:
    """Make WORK a private copy of the cached corpus + index."""
    cdir = cache_dir(pin)
    t0 = time.perf_counter()
    _fresh_work()
    for sub in ("proj", "store"):
        shutil.copytree(os.path.join(cdir, sub), os.path.join(WORK, sub))
    with open(os.path.join(cdir, "build.json")) as fh:
        info = json.load(fh)
    return {**info, "cache_dir": cdir, "copy_s": time.perf_counter() - t0}


def build(spark, pin: dict) -> None:
    """Index the corpus from scratch into the cache for this key."""
    from claude_code_memory_spark.api import CodeMemoryEngine

    cdir = cache_dir(pin)
    t0 = time.perf_counter()
    src, _ = source_tree()
    _fresh_work()
    shutil.copytree(src, PROJ, ignore=shutil.ignore_patterns("__pycache__"))
    needles = inject_needles(PROJ)
    eng = CodeMemoryEngine(spark, STORE)
    counters = eng.index(PROJ)
    # materialize the serving indexes so the cached store is search-ready
    for mode, ann in (("keyword", False), ("semantic", True)):
        eng.search(needle_name(0), mode=mode, ann=ann, k=5).collect()
    info = {"build_s": time.perf_counter() - t0, "index": counters, "needles": needles}
    tmp = cdir + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)  # left by an interrupted build
    os.makedirs(tmp)
    for sub in ("proj", "store"):
        shutil.copytree(os.path.join(WORK, sub), os.path.join(tmp, sub))
    with open(os.path.join(tmp, "build.json"), "w") as fh:
        json.dump(info, fh)
    os.replace(tmp, cdir)
