package graft.operators

/** CHECKPOINT POLICY (VERDICT r14 item 5) — the engine-wide rule for
  * every `localCheckpoint` site, with the per-site size classification.
  *
  * Why a policy: `localCheckpoint` stores blocks on the EXECUTORS
  * (MEMORY_AND_DISK, non-replicated). On a real cluster an executor
  * loss makes the frame unrecoverable mid-query — acceptable for a
  * within-query dedup of a recomputable intermediate, unacceptable as
  * durable state. The rule:
  *
  *   1. A site may localCheckpoint only an intermediate whose
  *      RECOMPUTATION is the fallback (the query restarts on executor
  *      loss; nothing durable depends on the blocks).
  *   2. Every site states its materialized SIZE BOUND. Bounded /
  *      vocabulary / delta-sized frames are always fine.
  *      Corpus-ROW-proportional frames must be narrow (a few machine
  *      words per row) and carry the bound in their site comment; at
  *      cluster scale those sites are the first to respell as a
  *      written parquet intermediate if restart cost matters.
  *   3. Never checkpoint a corpus-sized PAYLOAD (vectors, token
  *      arrays, text). The embed-dedup discipline (checkpoint
  *      (id, bucket) keys, re-attach payload by equi-join) is the
  *      pattern; the one measured exception is documented below as a
  *      negative result.
  *
  * Site classification (all bounds verified against the site comments;
  * sizes are per-row widths × the stated row bound):
  *
  *   BOUNDED (constant or parameter-bounded rows)
  *   - sim/KMeans (centroid table per iteration: nlist × dim)
  *   - sim/Mmr (probe shortlists: probes × shortN; round state)
  *   - ml/CortexThink train/valid: driver-trainer inputs, BOUNDED
  *     SAMPLES by the round-9+ design (fit collects train to the
  *     driver, so the caller must pass a driver-sized frame)
  *   - QueriesSim searches (k rows per probe), ANN recall sweep
  *
  *   VOCABULARY-sized (distinct tokens/pairs + a count)
  *   - text/NgramLm counts, text/Collocations counts, text/Bpe vocab
  *     (+ every 4th merge re-checkpoint)
  *
  *   DELTA-sized (CDC / maintenance change set)
  *   - streaming/IndexMaintain (diff, affected ids, sidecar lookup)
  *   - sim/IvfCosine.stageChanges (the one change-set frame of
  *     appendToIndex and applyChanges: id, vector, cell, bucket; the
  *     partition rewrites need no checkpoint — dynamic overwrite
  *     replaces partitions only at job commit, after every read)
  *   - QueriesSim q_index_maint diff
  *
  *   CORPUS-ROW-proportional, NARROW (a few words per row — the bound
  *   every site states inline; respell as written intermediates first
  *   at cluster scale)
  *   - dedup/Dedup minhash signatures (id + 16 longs), simhash
  *     (id + 1 long), SRP embed path (id + bucket ONLY — vectors
  *     re-attach by id equi-join)
  *   - text/LmBuckets scored frame (id + 2 numeric cols)
  *   - text/QualityClassifier feature frame (id + dim floats,
  *     dim ≤ 4096 by the HashingVectorizer cap)
  *   - ml/UmapAnalog positions/edges (id + 2 doubles; src/dst/attract
  *     per edge, k+|negOffsets| edges per row)
  *
  *   NEGATIVE RESULT (tried, reverted — do not re-try)
  *   - dedup/Dedup.ngramJaccardPairs shingle-hash frame: the kernel
  *     runs once per self-join side, but checkpointing (id, sh) pushes
  *     PAYLOAD-sized token-hash arrays through the block store —
  *     measured total stage exec 20.1s → 27.2s at sf0.1, wall flat.
  *     Recomputing a cheap kernel beats materializing its large output.
  */
object CheckpointPolicy
