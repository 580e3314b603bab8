"""The timed body of each workload.

``run`` is what one iteration times: input files in, output files fully
on disk. ``checker.py`` reads the output back for the untimed oracle
check.
"""

from __future__ import annotations

import json
import os

from sdm_rdfizer_spark import engine, rml_parser, sinks, sources
from sdm_rdfizer_spark.ops import dedup
from sdm_rdfizer_spark.sources import read_parquet


def semantify_config(manifest: dict, out: str) -> dict:
    """config.ini content (as a dict) writing one .nt file per dataset."""
    cfg = {"datasets": {"number_of_datasets": str(len(manifest["datasets"])),
                        "output_folder": out, "remove_duplicate": "yes",
                        "all_in_one_file": "no", "output_format": "n-triples"}}
    for i, (name, mapping) in enumerate(manifest["datasets"], 1):
        cfg[f"dataset{i}"] = {"name": name, "mapping": mapping}
    return cfg


class Workload:
    def __init__(self, spark, manifest: dict):
        self.spark = spark
        self.m = manifest

    def run(self, out: str) -> None:
        raise NotImplementedError


class WideFact(Workload):
    """engine.materialize + sinks.write_ntriples to a distributed
    N-Triples directory."""

    def run(self, out: str) -> None:
        with open(self.m["mapping"], encoding="utf-8") as f:
            text = f.read()
        triples = engine.materialize(self.spark, text,
                                     base_dir=os.path.dirname(self.m["mapping"]))
        sinks.write_ntriples(triples, os.path.join(out, "triples.nt"))


class Semantify(Workload):
    """engine.semantify(config): one .nt file per dataset."""

    def run(self, out: str) -> None:
        engine.semantify(semantify_config(self.m, out), self.spark)


# near_dup parameters: those of the dedup_filter / dedup_jaccard_verify
# queries of __spark_entry__.py, whose oracles check the output
NEAR_DUP = {"num_hashes": 16, "bands": 4, "shingle_n": 3}
VERIFY = {"shingle_n": 3, "threshold": 0.5, "min_shared_bands": 2,
          "max_candidates_per_doc": 20}


class NearDup(Workload):
    """Filtered corpus (neardup_canonical_exact_first, keep canonical)
    and verified pairs (minhash_lsh_pairs exact-first, then
    jaccard_verify_pairs), each written to parquet."""

    def frames(self):
        docs = read_parquet(self.spark, self.m["documents"])
        labels = dedup.neardup_canonical_exact_first(docs, **NEAR_DUP)
        keep = labels.where("is_canonical").select("doc_id")
        filtered = docs.join(keep, "doc_id").select("doc_id", "source", "lang")
        cand = dedup.minhash_lsh_pairs(docs, exact_first=True, **NEAR_DUP)
        pairs = dedup.jaccard_verify_pairs(docs, cand, **VERIFY)
        return docs, labels, filtered, cand, pairs

    def run(self, out: str) -> None:
        _, _, filtered, _, pairs = self.frames()
        write_parquet(filtered, os.path.join(out, "filtered"))
        write_parquet(pairs.select("id_a", "id_b", "jaccard"),
                      os.path.join(out, "pairs"))


def write_parquet(df, path: str) -> None:
    df.write.parquet(path)


def input_records(spark, manifest: dict) -> int:
    """Records the workload reads: the rows every distinct logical source
    of its mappings yields through ``sources.read_source`` (a JSON source
    after its iterator), or the documents of ``near_dup``. The same for
    every run of a seed, so counted once, untimed, and kept beside the
    inputs."""
    path = os.path.join(manifest["dir"], "records.json")
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    if "documents" in manifest:
        n = read_parquet(spark, manifest["documents"]).count()
    else:
        mappings = ([manifest["mapping"]] if "mapping" in manifest
                    else [m for _, m in manifest["datasets"]])
        scans = {}
        for m in mappings:
            with open(m, encoding="utf-8") as f:
                for tm in rml_parser.parse_mapping(f.read(), os.path.dirname(m)):
                    scans.setdefault(tm.source.cache_key(), tm.source)
        n = sum(sources.read_source(spark, ls).count() for ls in scans.values())
    with open(path + ".tmp", "w") as f:
        json.dump(n, f)
    os.replace(path + ".tmp", path)
    return n


WORKLOADS = {"wide_fact": WideFact, "many_maps": Semantify,
             "nested_sources": Semantify, "near_dup": NearDup}
