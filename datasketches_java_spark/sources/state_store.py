"""One versioned state store: the on-disk snapshot protocol of every
persisted incremental state — the delta-dedup state (plans/delta.py)
and the streaming sketch state (streaming/incremental.py).

Incremental state is correct only as a snapshot of mergeable,
serialized sketches and signatures (PAPER.md §1.1). This module is the
only code that reads, writes, flips or collects such a snapshot; the
lanes write their parquet parts where it says and read the parts it
lists.

On-disk format. Every path is relative to the state directory, so a
`shutil.copytree` of the directory is a working state:

    CURRENT                        name of the committed manifest
    MANIFEST_c<commit>.json        one manifest per commit; the committed
                                   one and its predecessor are kept
    <table>/<version>/             a part of an unbucketed table
    <table>/<version>/bucket=<b>/  bucket b of a bucketed table, as
                                   partitionBy("bucket") writes it

A version is `c<commit, 5+ digits>_<8 hex digits>`: the commit that
wrote it plus a random suffix, so a retried commit never writes into a
crashed one's directory. The manifest is one JSON object:

    {"format": <the lane's format tag>,
     "commit": <commit index: 0, 1, 2, ...>,
     "epochs": {<token namespace>: <highest committed sequence number>},
     "tables": {<table>: {<bucket>: [<version>, ...]}},
     ...the lane's own keys (the delta lane's "batches" lineage)}

An unbucketed table keeps its parts in commit order under bucket "" and
grows by append. A bucketed table holds one version per bucket; a
commit that rewrites a bucket replaces its version.

Commit: the lane writes its parts, then `Snapshot.commit` writes the
next manifest (temp file + os.replace) and flips CURRENT to it (temp
file + os.replace). A crash before the flip leaves the previous
snapshot readable as it was; the parts it wrote are orphans that no
manifest names.

Batch tokens: an int n, or a string "<namespace>:<n>". The streaming
sinks take the namespace from the checkpoint's persistent query id
(`stream_tag`), so a fresh checkpoint, or a second stream, restarting
at batch 0 never matches another stream's tokens. A token whose n is at
or below its namespace's high-water mark is a replay of a committed
batch, and the lane skips it. Tokens of one namespace must therefore
commit in increasing order, as Structured Streaming's batch ids do; the
manifest grows by one entry per namespace, not per batch.

GC: after each flip, every version directory that neither the new
manifest nor the previous one names is deleted (orphans included), and
every manifest but those two. A reader that resolved the previous
CURRENT may still be reading its parts, so they survive one generation.

Errors: a directory holding the earlier layout (a MANIFEST.json, or a
manifest without this lane's "format"), a CURRENT that names a missing
or unparseable manifest, and a manifest part missing on disk raise
ValueError naming the directory. None of them is read as an empty
state. A directory without CURRENT is the empty state.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import uuid

_CURRENT = "CURRENT"
_LEGACY = "MANIFEST.json"
_VERSION = re.compile(r"c\d{5,}_[0-9a-f]{8}")


def stream_tag(checkpoint_dir: str | None) -> str | None:
    """Persistent identity of the stream writing this checkpoint: the
    query `id` from `checkpoint_dir/metadata` (written at start(),
    before the first batch), falling back to the checkpoint path."""
    if checkpoint_dir is None:
        return None
    try:
        with open(os.path.join(checkpoint_dir, "metadata")) as f:
            return str(json.load(f)["id"])
    except Exception:
        return checkpoint_dir


def batch_token(checkpoint_dir: str | None, batch_id: int) -> int | str:
    """The token of a micro-batch: "<stream tag>:<batch_id>", or the
    bare batch id when there is no checkpoint to name the stream."""
    tag = stream_tag(checkpoint_dir)
    return f"{tag}:{int(batch_id)}" if tag else int(batch_id)


def _split_token(token: int | str) -> tuple[str, int]:
    if isinstance(token, int):
        return "", token
    namespace, _, seq = token.rpartition(":")
    try:
        return namespace, int(seq)
    except ValueError:
        raise ValueError(
            f"batch token {token!r} is neither an int nor '<namespace>:<int>'"
        ) from None


def _write_atomic(path: str, text: str) -> None:
    tmp = f"{path}.{uuid.uuid4().hex}.tmp"
    with open(tmp, "w") as f:
        f.write(text)
    os.replace(tmp, path)


def _versions(manifest: dict) -> set[str]:
    return {v for parts in manifest["tables"].values()
            for vs in parts.values() for v in vs}


class Snapshot:
    """The committed state of one directory (or its empty state), and
    the commit that follows it."""

    def __init__(self, state_dir: str, name: str | None, manifest: dict):
        self.state_dir = state_dir
        self.name = name
        self.manifest = manifest

    def replayed(self, token: int | str | None) -> bool:
        """True when `token` is at or below its namespace's high-water
        mark, i.e. its batch is already in this snapshot."""
        if token is None:
            return False
        namespace, seq = _split_token(token)
        return seq <= self.manifest["epochs"].get(namespace, -1)

    def paths(self, table: str, buckets=None) -> list[str]:
        """Part directories of `table` (of the given buckets; every
        bucket when None), skipping buckets never written."""
        parts = self.manifest["tables"].get(table, {})
        out = []
        for b in parts if buckets is None else map(str, buckets):
            for v in parts.get(b, ()):
                p = os.path.join(self.state_dir, table, v, *([f"bucket={b}"] if b else []))
                if not os.path.isdir(p):
                    raise ValueError(
                        f"state {self.state_dir}: manifest {self.name} names "
                        f"{os.path.relpath(p, self.state_dir)}, which is missing")
                out.append(p)
        return out

    def new_version(self) -> str:
        """A fresh version name for the parts of the next commit."""
        return f"c{self.manifest['commit'] + 1:05d}_{uuid.uuid4().hex[:8]}"

    def path(self, table: str, version: str) -> str:
        """Where the next commit writes its part of `table`."""
        return os.path.join(self.state_dir, table, version)

    def commit(self, version: str, token: int | str | None = None,
               append=(), replace: dict | None = None, **fields) -> None:
        """Commit `version`: append it to each table in `append`, make
        it the version of the listed buckets of each table in `replace`
        ({table: buckets}), record `token` and set the lane's own
        manifest keys (`fields`); then flip CURRENT and collect."""
        man = {**self.manifest, **fields, "commit": self.manifest["commit"] + 1}
        tables = {t: {b: list(vs) for b, vs in parts.items()}
                  for t, parts in man["tables"].items()}
        for t in append:
            tables.setdefault(t, {}).setdefault("", []).append(version)
        for t, buckets in (replace or {}).items():
            tables.setdefault(t, {}).update({str(b): [version] for b in buckets})
        man["tables"] = tables
        if token is not None:
            namespace, seq = _split_token(token)
            man["epochs"] = {**man["epochs"],
                             namespace: max(seq, man["epochs"].get(namespace, -1))}
        name = f"MANIFEST_c{man['commit']}.json"
        _write_atomic(os.path.join(self.state_dir, name), json.dumps(man, indent=1))
        _write_atomic(os.path.join(self.state_dir, _CURRENT), name)
        live = _versions(man) | _versions(self.manifest)
        for d in os.listdir(self.state_dir):
            p = os.path.join(self.state_dir, d)
            if d.startswith("MANIFEST_c") and d not in (name, self.name):
                os.remove(p)
            elif os.path.isdir(p):
                for v in os.listdir(p):
                    if _VERSION.fullmatch(v) and v not in live:
                        shutil.rmtree(os.path.join(p, v), ignore_errors=True)


def load(state_dir: str, fmt: str) -> Snapshot:
    """The committed snapshot of `state_dir` for a lane whose manifests
    carry "format": fmt; the empty snapshot when nothing is committed.
    Raises ValueError naming the directory for a state it cannot read
    (see the module docstring)."""
    if os.path.exists(os.path.join(state_dir, _LEGACY)):
        raise ValueError(
            f"state {state_dir} holds a {_LEGACY} state written by an older "
            "engine; rebuild it from its source")
    try:
        with open(os.path.join(state_dir, _CURRENT)) as f:
            name = f.read().strip()
    except FileNotFoundError:
        return Snapshot(state_dir, None,
                        {"format": fmt, "commit": -1, "epochs": {}, "tables": {}})
    try:
        with open(os.path.join(state_dir, name)) as f:
            manifest = json.load(f)
    except (OSError, ValueError) as e:
        raise ValueError(
            f"state {state_dir}: {_CURRENT} names manifest {name!r}, which is "
            f"missing or corrupt ({e})") from e
    found = manifest.get("format") if isinstance(manifest, dict) else None
    if found != fmt:
        raise ValueError(
            f"state {state_dir} is not a {fmt} state (its manifest's format is "
            f"{found!r}; written by an older engine?); rebuild it from its source")
    return Snapshot(state_dir, name, manifest)
