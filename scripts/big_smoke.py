"""1M-turn integration smoke of the round-4 seams working together:
build -> catch-up upsert (auto-sized) -> bulk delete -> compact -> gc
(immediate reclaim) -> zero-job reopen; the post-delete top-k must be identical across gc and the rollup must
stay fingerprint-valid throughout."""
import json, time, shutil, sys
sys.path.insert(0, "/root/repo")
from frankensearch_spark.session import get_spark
from frankensearch_spark.index import LexicalIndex
from frankensearch_spark.sources.transcripts import synthetic_transcripts
from frankensearch_spark.streaming.ingest import transcript_batch_to_docs

spark = get_spark(cores=32, shuffle_partitions=32)
d = "/tmp/big_smoke_ix"
shutil.rmtree(d, ignore_errors=True)
out = {}

t0 = time.time()
base = synthetic_transcripts(spark, 1_000_000, vocab_size=20_000)
idx = LexicalIndex.build_transcripts(spark, base, d)
out["build_sec"] = round(time.time() - t0, 1)

t0 = time.time()
fresh = synthetic_transcripts(spark, 200_000, partitions=16, seed=55)
segs = idx.maintenance.upsert(transcript_batch_to_docs(fresh))
out["upsert_200k_sec"] = round(time.time() - t0, 1)
out["upsert_segments"] = len(segs)
out["upsert_updates_per_sec"] = round(200_000 / out["upsert_200k_sec"], 0)

idx = LexicalIndex(spark, d)
q = "w12 w345"

t0 = time.time()
victims = idx.storage.read("docs").select("doc_id").limit(100_000)
n_del = idx.maintenance.delete_frame(victims)
out["bulk_delete_100k_sec"] = round(time.time() - t0, 1)
out["deleted"] = int(n_del)

idx = LexicalIndex(spark, d)
after_delete = list(idx.search(q, limit=20).hits["doc_id"])

t0 = time.time()
mapping = idx.maintenance.compact(max_density=0.05)
out["compact_sec"] = round(time.time() - t0, 1)
out["compacted_segments"] = len(mapping)

t0 = time.time()
removed = idx.maintenance.gc()
out["gc_sec"] = round(time.time() - t0, 1)
out["gc_removed_dirs"] = len(removed)

t0 = time.time()
reopened = LexicalIndex(spark, d)
eng = reopened.engine
out["reopen_sec"] = round(time.time() - t0, 4)
out["record_seq"] = reopened.storage.read_manifest()["seq"]
after_gc = list(reopened.search(q, limit=20).hits["doc_id"])
out["rank_consistent_after_gc"] = after_gc == after_delete
out["doc_count"] = eng.doc_count
print(json.dumps(out))
