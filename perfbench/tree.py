"""Seeded file-tree generator for the watcher workloads, and the
pure-Python model of the state the engine must reach.

The tree has the shape of ``examples/advanced_example.py``: root A
holds ``run_<r>/run_<r>.sample_<s>.lane_{1,2}.fastq.gz`` plus
``run_<r>.sample_<s>.results.txt`` (a float); about a quarter of the
samples have no results file yet. Root B mirrors run 1 of root A, as
the example's second root does, so the same entities receive results
files from two roots and the scalar ``results_file`` field conflicts.

Churn ticks only create and delete files: the watcher's diff is
path-set based, so a content edit is not a change.
"""

from __future__ import annotations

import os
import random
import re
import shutil

LANES = (1, 2)
PENDING_SHARE = 0.25  # samples created without a results file
CHURN_SHARE = 0.01  # files created or deleted by one churn


def _name(run: int, sample: int, kind: str) -> str:
    if kind == "results":
        return f"run_{run}.sample_{sample}.results.txt"
    return f"run_{run}.sample_{sample}.lane_{kind}.fastq.gz"


class Tree:
    """A file tree on disk plus the record of what it holds.

    ``files`` maps every present path to its content. ``runs`` and
    ``samples`` size the initial tree (about ``2.75 * runs * samples``
    files in root A)."""

    def __init__(self, base: str, seed: int, runs: int, samples: int):
        self.rng = random.Random(seed)
        self.root_a = os.path.join(base, "root_a")
        self.root_b = os.path.join(base, "root_b")
        shutil.rmtree(base, ignore_errors=True)
        os.makedirs(self.root_a)
        os.makedirs(self.root_b)
        self.files: dict[str, str] = {}
        self._dirs: set[str] = set()
        self.next_sample = {r: samples + 1 for r in range(1, runs + 1)}
        self.runs = runs
        for r in range(1, runs + 1):
            for s in range(1, samples + 1):
                self._new_sample(self.root_a, r, s, self.rng.random() >= PENDING_SHARE)
        # root B: a copy of run 1 (the example's second watched root)
        for path in sorted(self.files):
            if os.path.basename(os.path.dirname(path)) == "run_1":
                self._write(os.path.join(self.root_b, "run_1", os.path.basename(path)),
                            self.files[path])

    @property
    def roots(self) -> list[str]:
        return [self.root_a, self.root_b]

    def _write(self, path: str, content: str) -> None:
        d = os.path.dirname(path)
        if d not in self._dirs:
            os.makedirs(d, exist_ok=True)
            self._dirs.add(d)
        with open(path, "w") as f:
            f.write(content)
        self.files[path] = content

    def _delete(self, path: str) -> None:
        os.remove(path)
        del self.files[path]

    def _results_content(self) -> str:
        return repr(round(self.rng.uniform(0.0, 1000.0), 3))

    def _new_sample(self, root: str, run: int, sample: int, with_results: bool) -> None:
        d = os.path.join(root, f"run_{run}")
        for lane in LANES:
            self._write(os.path.join(d, _name(run, sample, lane)), "fq")
        if with_results:
            self._write(os.path.join(d, _name(run, sample, "results")), self._results_content())

    def churn(self) -> None:
        """Create and delete about ``CHURN_SHARE`` of the files: new
        samples (newer runs favoured), late results files for samples
        that have none, and deletions of lane and results files."""
        budget = max(3, round(CHURN_SHARE * len(self.files)))
        present = set(self.files)
        # deletions first, drawn from the tree as it stood, so no path
        # is created and deleted within one tick
        victims = self.rng.sample(sorted(p for p in present if p.startswith(self.root_a)),
                                  budget * 2 // 5)
        for p in victims:
            self._delete(p)
        pending = sorted(
            (r, s)
            for r, top in self.next_sample.items()
            for s in range(1, top)
            if os.path.join(self.root_a, f"run_{r}", _name(r, s, "results")) not in present
            and os.path.join(self.root_a, f"run_{r}", _name(r, s, 1)) in self.files
        )
        for r, s in self.rng.sample(pending, min(len(pending), budget // 5)):
            self._write(os.path.join(self.root_a, f"run_{r}", _name(r, s, "results")),
                        self._results_content())
        made = 0
        while made < budget - budget * 2 // 5 - budget // 5:
            # triangular draw: the newest runs receive most new samples
            r = self.runs - int(self.rng.triangular(0, self.runs, 0))
            r = min(max(r, 1), self.runs)
            s = self.next_sample[r]
            self.next_sample[r] = s + 1
            with_results = self.rng.random() >= 0.5
            self._new_sample(self.root_a, r, s, with_results)
            made += 2 + with_results


# ------------------------------------------------------------- the model
#
# An independent re-statement of the documented merge semantics (the
# docstrings of blueprint.py and operators/assemble.py), applied to the
# same change batches the watcher should see:
#   - list fields append new members and subtract deleted ones; an
#     empty list is NULL;
#   - a scalar is set if unset; a differing value is a conflict; a
#     delete of the held value sets it to NULL, of another value is a
#     conflict;
#   - the parser value is computed once its dependency is set and the
#     value is still NULL (first wins) and survives deletes;
#   - ``_conflicts`` accumulates the names of conflicting fields.

_RUN = re.compile(r"(run_\d+)\.")
_SAMPLE = re.compile(r"sample_(\d+)\.")
_FASTQ = re.compile(r".+\.fastq\.gz")


def _parse_float(content: str | None) -> float | None:
    try:
        return float(content.strip())
    except (AttributeError, ValueError):
        return None


class Model:
    """Expected state of both blueprints, advanced one batch at a time."""

    def __init__(self):
        self.sample: dict[str, dict] = {}
        self.run: dict[str, dict] = {}

    def apply(self, created: set[str], deleted: set[str], contents: dict[str, str]) -> dict:
        """Merge one batch; ``contents`` is the tree as the parser reads
        it. Returns the batch's counts: touched entities per blueprint
        and the parses whose value was needed."""
        batch_s: dict[str, dict] = {}
        batch_r: dict[str, dict] = {}
        for change, paths in (("c", created), ("d", deleted)):
            for p in paths:
                name = os.path.basename(p)
                run, sample = _RUN.search(name).group(1), _SAMPLE.search(name).group(1)
                e = batch_s.setdefault(f"{run}__{sample}", {"run": run, "sample": sample})
                e.setdefault((change, "fastqs"), set())
                e.setdefault((change, "results_file"), set())
                if _FASTQ.search(name):
                    e[(change, "fastqs")].add(p)
                if re.fullmatch(rf"{run}\.sample_{sample}\.results\.txt", name):
                    e[(change, "results_file")].add(p)
                r = batch_r.setdefault(run, {})
                r.setdefault(("c", "samples"), set())
                r.setdefault(("d", "samples"), set())
                r[(change, "samples")].add(sample)

        for eid, b in batch_s.items():
            cur = self.sample.setdefault(eid, {
                "run": b["run"], "sample": b["sample"], "fastqs": None,
                "results_file": None, "result": None, "_conflicts": []})
            cur["fastqs"] = _merge_list(cur["fastqs"], b.get(("c", "fastqs"), set()),
                                        b.get(("d", "fastqs"), set()))
            val, conflict = _merge_scalar(cur["results_file"], b.get(("c", "results_file"), set()),
                                          b.get(("d", "results_file"), set()))
            cur["results_file"] = val
            if conflict and "results_file" not in cur["_conflicts"]:
                cur["_conflicts"] = cur["_conflicts"] + ["results_file"]
        for rid, b in batch_r.items():
            cur = self.run.setdefault(rid, {"run": rid, "samples": None, "_conflicts": []})
            cur["samples"] = _merge_list(cur["samples"], b[("c", "samples")], b[("d", "samples")])

        useful = 0
        for cur in self.sample.values():  # the parser guard runs over the whole state
            if cur["result"] is None and cur["results_file"] is not None:
                useful += 1
                cur["result"] = _parse_float(contents.get(cur["results_file"]))
        return {"sample_touched": len(batch_s), "run_touched": len(batch_r),
                "parser_useful": useful}


def _merge_list(held, added: set, removed: set):
    out = (set(held or ()) | added) - removed
    return sorted(out) or None


def _merge_scalar(held, added: set, removed: set):
    new = sorted(added)
    conflict = len(new) > 1 or (held is not None and new and held not in new)
    val = held if held is not None else (new[0] if new else None)
    if removed:
        if val is not None and val in removed:
            val = None
        elif val is not None:
            conflict = True
    return val, bool(conflict)
