#!/usr/bin/env python3
"""Compare two copies of the fixtures' scratch lakehouse trees file by file.

The lakehouse fixtures (`graft.sources.SinkLifecycles`,
`SinkMvLifecycles`, the streaming parities) leave their tables under
`java.io.tmpdir`. Run `graft.Verify` on two trees with a different
`-Djava.io.tmpdir` each (see the verify skill), then compare the roots:

    python3 tools/lake_meta_diff.py <rootA> <rootB> [--show N]

Before comparing, every path and every file body is normalized so that
only engine output remains:

  - the root directory itself (absolute paths inside manifests, clones
    and MV headers) becomes `<root>`;
  - UUIDs (Spark query ids in `part-b`/`part-r`/`part-u` names, manifest
    tags and checkpoint ids) become `<uuid>`;
  - the 8-hex nonce of manifest segment names
    (`_manifest.seg-<tag>-<nonce>-<k>.json`) and the nonce and writing
    partition of MV state segments (`state-v<V>-b<B>-<nonce>-<pid>.tsv`)
    become placeholders;
  - the random suffix of `createTempDirectory` roots (`graft_starbase123…`)
    is dropped;
  - commit and batch timestamps (`"ts":…`, `"batchTimestampMs":…`) become 0;
  - MV state segments compare as sorted lines: a segment is one bucket's
    keyed rows, written in the order Spark's tasks deliver them.

Files whose normalized paths coincide are compared as a multiset of
normalized bodies. Exits 0 when every file is equal after normalization,
1 otherwise, printing the differing paths.
"""
import argparse
import collections
import os
import re
import sys

UUID = re.compile(r"[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}")
SEGMENT = re.compile(r"(_manifest\.seg-\S+?)-[0-9a-f]{8}-(\d+)\.json")
MV_STATE = re.compile(r"(state-v\d+-b\d+)-[0-9a-f]+-\d+\.tsv")
TEMP_ROOT = re.compile(r"(graft_(?:starbase|snowbase))\d+")
STAMPS = re.compile(r'"(ts|batchTimestampMs)":\d+')


def normalize(text, root):
    text = text.replace(root, "<root>")
    text = UUID.sub("<uuid>", text)
    text = SEGMENT.sub(r"\1-<nonce>-\2.json", text)
    text = MV_STATE.sub(r"\1-<nonce>-<pid>.tsv", text)
    text = TEMP_ROOT.sub(r"\1<n>", text)
    return STAMPS.sub(r'"\1":0', text)


def census(root):
    """Normalized relative path -> sorted list of normalized bodies."""
    root = os.path.realpath(root)
    files = collections.defaultdict(list)
    for d, _, names in os.walk(root):
        for n in names:
            p = os.path.join(d, n)
            rel = normalize(os.path.relpath(p, root), root)
            with open(p, "rb") as f:
                raw = f.read()
            try:
                body = normalize(raw.decode("utf-8"), root)
            except UnicodeDecodeError:
                body = raw
            if MV_STATE.search(n):
                body = "\n".join(sorted(body.split("\n")))
            files[rel].append(body)
    return {k: sorted(v, key=repr) for k, v in files.items()}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("a")
    ap.add_argument("b")
    ap.add_argument("--show", type=int, default=20, help="differences to print")
    args = ap.parse_args()
    a, b = census(args.a), census(args.b)
    only_a = sorted(set(a) - set(b))
    only_b = sorted(set(b) - set(a))
    differ = sorted(k for k in set(a) & set(b) if a[k] != b[k])
    for label, names in (("only in A", only_a), ("only in B", only_b), ("differs", differ)):
        for k in names[: args.show]:
            print(f"{label}: {k}")
        if len(names) > args.show:
            print(f"{label}: ... {len(names) - args.show} more")
    equal = sum(len(v) for k, v in a.items() if b.get(k) == v)
    print(f"files: A {sum(map(len, a.values()))}, B {sum(map(len, b.values()))}, "
          f"equal after normalization {equal}; only in A {len(only_a)}, "
          f"only in B {len(only_b)}, differing {len(differ)}")
    return 0 if not (only_a or only_b or differ) else 1


if __name__ == "__main__":
    sys.exit(main())
