#!/usr/bin/env python3
"""Mechanical registry-rotation checker (r7 VERDICT #5).

The driver's CORRECTNESS artifact row-caps at 50 entries taken in
`queries()` registry order, so the order is a rotation schedule with
one hard rule: every query that is (a) never driver-checked or
(b) changed since its last driver-green row MUST sit in the front 50.
r7 violated this by hand (dimension_breakdown_salted's salt fix landed
while the query sat at position 60); this script makes the rule
checkable instead of remembered.

Method — FUNCTION-level fingerprints over git history:
  * A query's implementation surface is the transitive closure of
    top-level definitions reachable from its q_<name> function by
    following Name references: entry-module helpers, the oracle dict
    value (chasing Name/Call references one level), and — through
    `from <pkg>.x.y import z` statements (module-level or
    function-local) — the referenced definitions in package modules,
    recursively across modules. Fingerprint = sha256 of the sorted
    (module, name, source-segment) set, so editing one operator in a
    1,700-line shared module flags only the queries that actually
    reach that operator.
  * last_green(query) = newest round N whose CORRECTNESS_r{N}.json has
    rows+schema+hash all true for the query.
  * The code state that PRODUCED round N's artifact is the driver's
    "round N: verdict/advice/correctness/bench" commit; fingerprints
    are recomputed there via `git show <commit>:<path>`.
  * changed(query) = fingerprint(HEAD worktree) != fingerprint(round
    commit of last green). Unresolvable references degrade to
    whole-module inclusion — over-rotating is safe, under-rotating is
    the bug.

Exit 0 and a summary when the rule holds; exit 1 with the offending
names otherwise. --suggest prints a full compliant ordering
(required-front first, then the current order's remainder).
"""

from __future__ import annotations

import ast
import hashlib
import json
import os
import re
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "online_anomaly_detection_root_cause_analysis_spark"
ENTRY = "__spark_entry__.py"
WINDOW = 50
# line ends as the parser splits them (\r\n, lone \r, \n), kept on the line
_LINE_END = re.compile(r"(?<=\n)|(?<=\r)(?!\n)")


def _git(*args: str) -> str:
    return subprocess.run(
        ["git", *args], cwd=REPO, capture_output=True, text=True, check=True
    ).stdout


def round_commits() -> dict[int, str]:
    out = _git("log", "--all", "--format=%H %s")
    commits: dict[int, str] = {}
    for line in out.splitlines():
        sha, _, subj = line.partition(" ")
        m = re.match(r"round (\d+): verdict/advice/correctness/bench", subj)
        if m:
            commits.setdefault(int(m.group(1)), sha)  # newest first wins
    return commits


class Snapshot:
    """Lazily-parsed view of the repo at one commit (None = worktree)."""

    def __init__(self, commit: str | None):
        self.commit = commit
        self._files: dict[str, str | None] = {}
        self._modules: dict[str, "ModuleIndex | None"] = {}

    def file(self, relpath: str) -> str | None:
        if relpath not in self._files:
            if self.commit is None:
                p = os.path.join(REPO, relpath)
                self._files[relpath] = (
                    open(p).read() if os.path.exists(p) else None
                )
            else:
                try:
                    self._files[relpath] = _git(
                        "show", f"{self.commit}:{relpath}"
                    )
                except subprocess.CalledProcessError:
                    self._files[relpath] = None
        return self._files[relpath]

    def module(self, relpath: str) -> "ModuleIndex | None":
        if relpath not in self._modules:
            src = self.file(relpath)
            try:
                self._modules[relpath] = (
                    ModuleIndex(relpath, src) if src is not None else None
                )
            except SyntaxError:
                self._modules[relpath] = None
        return self._modules[relpath]


class ModuleIndex:
    """Top-level defs + import bindings of one python file."""

    def __init__(self, relpath: str, source: str):
        self.relpath = relpath
        self.tree = ast.parse(source)
        self.lines = [line.encode() for line in _LINE_END.split(source) if line]
        self.defs: dict[str, ast.stmt] = {}
        # bound name -> (module relpath, original name) for package
        # ImportFrom at module level
        self.import_map: dict[str, tuple[str, str]] = {}
        for node in self.tree.body:
            if isinstance(
                node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ):
                self.defs[node.name] = node
            elif isinstance(node, ast.Assign):
                for t in node.targets:
                    if isinstance(t, ast.Name):
                        self.defs[t.id] = node
            elif isinstance(node, ast.AnnAssign) and isinstance(
                node.target, ast.Name
            ):
                self.defs[node.target.id] = node
            else:
                self._collect_imports(node, self.import_map, self.relpath)

    @staticmethod
    def _collect_imports(
        node: ast.stmt, into: dict[str, tuple[str, str]], relpath: str
    ) -> None:
        if isinstance(node, ast.ImportFrom) and node.module is not None:
            if node.level:  # relative: resolve against this file's package
                base = relpath.rsplit("/", 1)[0].split("/")
                base = base[: len(base) - (node.level - 1)]
                mod = "/".join(base + node.module.split(".")) + ".py"
            elif node.module.split(".")[0] == PKG:
                mod = node.module.replace(".", "/") + ".py"
            else:
                return
            for alias in node.names:
                into[alias.asname or alias.name] = (mod, alias.name)

    def seg(self, node: ast.AST) -> str:
        """`ast.get_source_segment` over the lines split once: it
        re-splits the whole source on every call, which dominated the
        run."""
        lines = self.lines[node.lineno - 1 : node.end_lineno]
        if len(lines) == 1:
            return lines[0][node.col_offset : node.end_col_offset].decode()
        return b"".join(
            [lines[0][node.col_offset :], *lines[1:-1],
             lines[-1][: node.end_col_offset]]
        ).decode()


def _closure(
    snap: Snapshot, relpath: str, name: str, seen: set[tuple[str, str]],
    parts: dict[tuple[str, str], str],
) -> None:
    """Add (module, name)'s source segment and recurse through the
    Names it references — same-module defs, package imports (module
    level and local), falling back to whole-module inclusion when a
    star-import or unparseable module blocks resolution."""
    key = (relpath, name)
    if key in seen:
        return
    seen.add(key)
    mod = snap.module(relpath)
    if mod is None:
        parts[key] = snap.file(relpath) or ""
        return
    if name in mod.import_map:
        tgt_mod, tgt_name = mod.import_map[name]
        _closure(snap, tgt_mod, tgt_name, seen, parts)
        return
    node = mod.defs.get(name)
    if node is None:
        return  # builtin / external / parameter — not ours
    parts[key] = mod.seg(node)
    local_imports: dict[str, tuple[str, str]] = {}
    for sub in ast.walk(node):
        ModuleIndex._collect_imports(sub, local_imports, relpath)
    for sub in ast.walk(node):
        if isinstance(sub, ast.Name):
            if sub.id in local_imports:
                tm, tn = local_imports[sub.id]
                _closure(snap, tm, tn, seen, parts)
            elif sub.id in mod.defs or sub.id in mod.import_map:
                _closure(snap, relpath, sub.id, seen, parts)


def _registry(snap: Snapshot) -> dict[str, str] | None:
    entry = snap.module(ENTRY)
    if entry is None:
        return None
    qfn = entry.defs.get("queries")
    if qfn is None:
        return None
    for node in ast.walk(qfn):
        if isinstance(node, ast.Dict):
            out = {}
            for k, v in zip(node.keys, node.values):
                if isinstance(k, ast.Constant) and isinstance(v, ast.Name):
                    out[k.value] = v.id
            if out:
                return out
    return None


def _oracle_names(snap: Snapshot) -> dict[str, ast.expr]:
    entry = snap.module(ENTRY)
    ofn = entry.defs.get("oracle_sql")
    if ofn is None:
        return {}
    for node in ast.walk(ofn):
        if isinstance(node, ast.Dict):
            out = {}
            for k, v in zip(node.keys, node.values):
                if isinstance(k, ast.Constant):
                    out[k.value] = v
            if out:
                return out
    return {}


def fingerprints(commit: str | None) -> dict[str, str] | None:
    snap = Snapshot(commit)
    reg = _registry(snap)
    if reg is None:
        return None
    entry = snap.module(ENTRY)
    oracles = _oracle_names(snap)
    out = {}
    for qname, fn_name in reg.items():
        seen: set[tuple[str, str]] = set()
        parts: dict[tuple[str, str], str] = {}
        _closure(snap, ENTRY, fn_name, seen, parts)
        ov = oracles.get(qname)
        if ov is not None:
            parts[(ENTRY, f"__oracle__{qname}")] = entry.seg(ov)
            for sub in ast.walk(ov):
                if isinstance(sub, ast.Name):
                    _closure(snap, ENTRY, sub.id, seen, parts)
        blob = "\n".join(
            f"{m}::{n}\n{src}" for (m, n), src in sorted(parts.items())
        )
        out[qname] = hashlib.sha256(blob.encode()).hexdigest()
    return out


def last_green_rounds() -> dict[str, int]:
    greens: dict[str, int] = {}
    for fn in sorted(os.listdir(REPO)):
        m = re.match(r"CORRECTNESS_r(\d+)\.json$", fn)
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            with open(os.path.join(REPO, fn)) as f:
                data = json.load(f)
        except (json.JSONDecodeError, OSError):
            continue
        for name, row in data.items():
            if not isinstance(row, dict):
                continue
            if (
                row.get("rows_match")
                and row.get("schema_match")
                and row.get("hash_match")
                and not row.get("err")
            ):
                greens[name] = max(greens.get(name, 0), rnd)
    return greens


def required_front() -> tuple[list[str], dict[str, str]]:
    """(ordered registry names, name -> reason) for queries that MUST
    sit within the driver window."""
    head = fingerprints(None)
    assert head is not None, "worktree __spark_entry__.py unparseable"
    greens = last_green_rounds()
    commits = round_commits()
    fp_cache: dict[int, dict[str, str] | None] = {}
    reasons: dict[str, str] = {}
    for name in head:
        rnd = greens.get(name)
        if rnd is None:
            reasons[name] = "never driver-green"
            continue
        if rnd not in fp_cache:
            sha = commits.get(rnd)
            fp_cache[rnd] = fingerprints(sha) if sha else None
        old = fp_cache[rnd]
        if old is None or name not in old:
            reasons[name] = f"no fingerprint at round {rnd} commit"
        elif old[name] != head[name]:
            reasons[name] = f"implementation changed since r{rnd} green"
    return list(head), reasons


def main() -> int:
    order, reasons = required_front()
    front = order[:WINDOW]
    violations = [n for n in reasons if n not in front]
    n_req = len(reasons)
    print(
        f"registry: {len(order)} queries; window: {WINDOW}; "
        f"required-front: {n_req}"
    )
    for n in sorted(reasons):
        mark = "VIOLATION" if n in violations else "ok"
        print(f"  [{mark}] {n}: {reasons[n]} (pos {order.index(n) + 1})")
    if n_req > WINDOW:
        print(f"ERROR: {n_req} required queries exceed the {WINDOW}-row window")
        return 1
    if "--suggest" in sys.argv:
        suggested = [n for n in order if n in reasons] + [
            n for n in order if n not in reasons
        ]
        print("suggested order:")
        for n in suggested:
            print(f"  {n}")
    if violations:
        print(f"FAIL: {len(violations)} required quer(ies) past position {WINDOW}")
        return 1
    print("OK: rotation rule holds")
    return 0


if __name__ == "__main__":
    sys.exit(main())
