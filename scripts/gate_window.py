"""Print the driver gate window (first 50 registry entries) with family
labels and each query's verification history — the rotation worksheet for
the next round's tier-1 shuffle.

Usage: python scripts/gate_window.py [CORRECTNESS_r*.json ...]
Passing prior CORRECTNESS files marks which window entries already have a
driver-verified green row (candidates for displacement next round).
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def family(name: str) -> str:
    # mirror of tests/test_plans.py::test_gate_window_covers_every_family
    if name.startswith(("crop_", "st_", "spatial_", "geo_", "points_",
                        "zorder_", "hilbert_", "trajectory_")):
        return "spatial"
    if name.startswith(("events_", "sessionize_", "streaming_", "stream_",
                        "asof_", "interval_", "gap_", "cohort_", "anomaly_")):
        return "streaming/events"
    if name.startswith("multimodal_"):
        return "multimodal"
    if name.startswith("pyds_"):
        return "pydatasource"
    if name.startswith(("embedding_", "kmeans_")):
        return "similarity"
    if "dedup" in name or name.startswith(("minhash", "simhash", "ngram_",
                                           "contamination", "dup_")):
        return "dedup"
    if name.startswith(("text_", "token_", "quality_", "lang_", "bm25",
                        "pii_", "bpe_", "vocab_", "doc_", "training_",
                        "repetition_", "phrase_", "lm_", "chunk_",
                        "fuzzy_", "udtf_", "segment_")):
        return "text/corpus"
    return "relational"


def main() -> None:
    from geospatial_data_pipeline_spark_sedona_on_aws_spark.plans.registry import QUERIES

    seen: dict[str, list[str]] = {}
    for path in sys.argv[1:]:
        tag = path.rsplit("_r", 1)[-1].split(".")[0]
        with open(path) as f:
            for name, res in json.load(f).items():
                if res.get("hash_match"):
                    seen.setdefault(name, []).append(f"r{tag}")

    names = list(QUERIES)
    window, tier2 = names[:50], names[50:]
    fams: dict[str, int] = {}
    print(f"=== tier 1 (driver gate window, {len(window)} entries) ===")
    for i, n in enumerate(window):
        fam = family(n)
        fams[fam] = fams.get(fam, 0) + 1
        hist = ",".join(seen.get(n, [])) or "-"
        print(f"{i:3d}  {n:34s} {fam:16s} driver-green: {hist}")
    print("\nfamily counts:", dict(sorted(fams.items())))
    never = [n for n in tier2 if n not in seen]
    print(f"\ntier 2: {len(tier2)} entries; never driver-verified: "
          f"{len(never)}")
    for n in never:
        print(f"     {n}")


if __name__ == "__main__":
    main()
