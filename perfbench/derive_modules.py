"""Derive the query -> module map from SparkEntry.scala.

A query belongs to every operator module its declared function calls by
name (`Validation.`, `Corpus.` ...); streaming drains (`drainToBatch`,
`StreamMonitor`) count as `streaming.StreamMonitor`. No declared query
calls `graft.ml`. The result is committed as query_modules.json;
re-derive after the catalog changes:

    python3 perfbench/derive_modules.py src/main/scala/graft/SparkEntry.scala \
        > perfbench/query_modules.json
"""
import json
import re
import sys

OPERATORS = ["Validation", "Features", "Preprocess", "Metrics", "Relational",
             "RelationalExt", "TextOps", "Dedup", "Similarity", "Multimodal",
             "Temporal", "EventOps", "Corpus", "Scale", "Vocab", "QualityModel"]
ENTRY = re.compile(r'^    "([a-z0-9_]+)" -> ', re.M)


def derive(src):
    start = src.index("def queries:")
    end = src.index("\n  )\n", start)
    block = src[start:end]
    heads = list(ENTRY.finditer(block))
    out = {}
    for i, m in enumerate(heads):
        body = block[m.end():heads[i + 1].start() if i + 1 < len(heads) else len(block)]
        mods = [f"operators.{op}" for op in OPERATORS
                if re.search(rf"\b{op}\.", body)]
        if "StreamMonitor" in body or "drainToBatch" in body:
            mods.append("streaming.StreamMonitor")
        out[m.group(1)] = mods
    return dict(sorted(out.items()))


if __name__ == "__main__":
    with open(sys.argv[1]) as f:
        json.dump(derive(f.read()), sys.stdout, indent=1)
    print()
