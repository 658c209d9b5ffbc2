#!/usr/bin/env python3
"""Zipf-corpus correctness gate (round-13 verdict #5): hash-verify the
vocabulary-sensitive families against DuckDB on the realistic-vocabulary
corpus (`GenData --zipf`: Zipf(~1) unigram frequencies over ~100k types,
Heaps-law doc growth — the regime where the saturated-30-word TPC-H
fixture hid LM/dedup scaling terms, round-13 finds).

Until round 14 this fixture fed TIMINGS only (tools/zipf_*_r13.json);
the hash gates all ran on the saturated-vocab corpus. The oracles are
corpus-agnostic, so the same DIRECT/CLOSURE machinery as check_sf1.py
runs here on the documents-only table subset:

  - DIRECT (29): LM filters (unigram/bigram CE + stored, NB + stored,
    DSIR + incremental), TF-IDF/BM25/inverted-index, heavy hitters,
    banded dedup (minhash/simhash/jaccard/containment/spans/top-grams),
    decontamination, and the lighter text stats — oracle SQL verbatim;
  - CLOSURE (3): the connected-component dedup families via the exact
    min-id union-find replacement (pair CTEs + suffix verbatim).

Usage: python3 tools/check_zipf.py [sfDir] [--skip-verify]
  sfDir default testdata/zipf_sf1 in the repo root (regenerate if absent:
  sbt "runMain graft.GenData --zipf testdata/zipf_sf1"; `--zipf`
  must come first, and the default is 50,000 documents).
Writes CORRECTNESS_zipf.json in the repo root.
"""
import json, os, subprocess, sys

TOOLS = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(TOOLS)
SF = sys.argv[1] if len(sys.argv) > 1 and not sys.argv[1].startswith("-") \
    else os.path.join(REPO, "testdata", "zipf_sf1")
OUT = "/tmp/graft_verify_zipf"

CLOSURE = ["q_dedup_clusters", "q_dedup_corpus", "q_dedup_corpus_best"]
DIRECT = [
    # LM / importance filters — the families whose cost and arithmetic
    # ride vocabulary cardinality
    "q_text_unigram_ce", "q_text_bigram_ce", "q_text_bigram_ce_stored",
    "q_text_nb_logodds", "q_text_nb_stored",
    "q_text_dsir", "q_text_dsir_incremental",
    # vocabulary-sized model tables
    "q_text_tfidf", "q_text_bm25", "q_text_inverted_index",
    "q_text_heavy_hitters", "q_text_heavy_hitters_by_lang",
    "q_text_divergence",
    # banded dedup — candidate generation under a long-tail shingle df
    "q_dedup_exact", "q_dedup_ngram_jaccard", "q_dedup_jaccard_capped",
    "q_dedup_containment", "q_dedup_minhash_lsh",
    "q_dedup_simhash_pairs", "q_dedup_simhash_capped",
    "q_dedup_spans", "q_dedup_span_removal", "q_dedup_top_grams",
    "q_decontaminate", "q_decontaminate_bloom",
    # light text stats (cheap; pin the tokenizer on the new corpus)
    "q_text_tokens", "q_text_quality", "q_text_langid",
    "q_text_fingerprint",
    # --- round-15 mop-up (round-14 verdict #7): the remaining
    # text-adjacent documents-only families — packing, chunking,
    # novelty, redaction/repetition, simhash signatures, corpus gates,
    # and the sampling/mix tier. Their vocabulary-insensitivity was
    # argued, not measured; one run here retires the assumption.
    "q_text_packing", "q_text_packing_sharded", "q_text_chunks",
    "q_text_novelty", "q_text_redact", "q_text_repetition",
    "q_text_simhash", "q_text_corpus_gate", "q_stream_corpus_gate",
    "q_pipeline_corpus_prep",
    "q_sample_deterministic", "q_sample_weighted",
    "q_sample_weighted_group", "q_sample_mix", "q_sample_stratified",
    "q_mix_temperature", "q_curriculum_order",
]
ALL = sorted(CLOSURE + DIRECT)

if "--skip-verify" not in sys.argv:
    env = dict(os.environ, SPARK_GRAFT_ONLY=",".join(ALL))
    r = subprocess.run(
        ["sbt", "-batch", f"runMain graft.Verify {SF} {OUT}"],
        cwd=REPO, env=env, capture_output=True, text=True, timeout=7200)
    sys.stdout.write(r.stdout[-3000:])
    if r.returncode != 0:
        sys.stderr.write(r.stderr[-3000:])
        sys.exit("verify run failed")

reports = []
def run(script, args, report):
    p = subprocess.run([sys.executable, os.path.join(TOOLS, script)] + args,
                       cwd=REPO)
    if p.returncode != 0:
        sys.exit(f"{script} failed")
    reports.append(report)

def nf(path, names):
    open(path, "w").write("\n".join(names) + "\n")
    return path

run("sf1_direct_compare.py",
    [SF, OUT, nf("/tmp/zipf_direct.txt", DIRECT),
     "/tmp/zipf_direct_report.json", "16"],
    "/tmp/zipf_direct_report.json")
run("sf1_closure_compare.py",
    [SF, OUT, "/tmp/zipf_closure_report.json",
     nf("/tmp/zipf_closure.txt", CLOSURE)],
    "/tmp/zipf_closure_report.json")

merged = {}
for rp in reports:
    merged.update(json.load(open(rp))["queries"])
failed = sorted(n for n, r in merged.items() if r.get("status") != "pass")
out = {
    "sf_dir": SF,
    "note": ("Zipf-vocabulary correctness gate: the LM/dedup/text families "
             "hashed vs DuckDB on the realistic-vocabulary corpus "
             "(GenData --zipf). Same exact-compare semantics as the sf1 "
             "gate; closure oracles via the exact min-id union-find "
             "replacement (see tools/check_zipf.py docstring)."),
    "compared": len(merged),
    "passed": len(merged) - len(failed),
    "failed": failed,
    "queries": {n: merged[n] for n in sorted(merged)},
}
# zipf_sf1 keeps the canonical name; other fixtures (zipf_sf10) get a
# suffixed report so the two corpora carry independent evidence
base = os.path.basename(SF.rstrip("/"))
dest = os.path.join(REPO, "CORRECTNESS_zipf.json" if base == "zipf_sf1"
                    else f"CORRECTNESS_{base}.json")
json.dump(out, open(dest, "w"), indent=1)
print(f"{out['passed']}/{out['compared']} pass -> {dest}")
sys.exit(1 if failed else 0)
