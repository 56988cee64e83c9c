"""Shared parameters for extension operators.

Single source of truth consumed by BOTH the Spark operators and the
DuckDB oracle builders — any constant appearing on one side only is a
differential-test bug waiting to happen.
"""

# --- tokenization ----------------------------------------------------------
TOKEN_PATTERN = r"[^\s]+"  # whitespace tokenizer with no empty tokens
# BPE-ish piece pattern: letter runs, digit runs, single other glyphs
BPE_PATTERN = r"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]"

STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "on", "for", "with")

# language-ID marker tokens (deterministic n-gram-style heuristic)
LANG_MARKERS = {
    "en": ("the", "a", "of", "and", "is"),
    "de": ("der", "die", "das", "und", "ist"),
    "es": ("el", "la", "los", "que", "es"),
    "fr": ("le", "la", "les", "et", "est"),
}
LANG_ORDER = ("en", "de", "es", "fr")  # tie-break priority

# --- fingerprint (polynomial rolling hash) ---------------------------------
FP_MOD = 1_000_000_007
FP_BASE = 31
FP_TOKEN_MOD = 1_000_000  # token hash reduced first so fold never overflows

# --- MinHash + LSH dedup ---------------------------------------------------
SHINGLE_SIZE = 3
MINHASH_K = 8
MINHASH_BANDS = 4  # 4 bands x 2 rows
LSH_BUCKET_CAP = 100  # skew guard: drop pathological buckets (scale safety)
JACCARD_THRESHOLD = 0.6

# --- SimHash dedup ---------------------------------------------------------
# 60 bits (full portable-hash width), 4 x 15-bit chunks: Manku-style
# block-permuted candidates — one equal chunk guarantees full recall for
# distance <= 3; distance-4 pairs need luck in chunk placement. Wide
# chunks matter: 8-bit chunks collide catastrophically on clustered
# corpora (measured 7.3M candidates on 5k docs vs 0.6M with 15-bit).
SIMHASH_BITS = 60
SIMHASH_CHUNKS = 4
SIMHASH_CHUNK_BITS = 15
SIMHASH_MAX_HAMMING = 4
# Skew guard on chunk buckets (r7): 4 chunks x 2^15 keys is a FIXED
# blocking cardinality, so bucket occupancy — and candidate volume,
# which grows as sum(bucket^2) — scales with the corpus; the sf3 study
# measured simhash_pairs at 5.91x runtime for 3x data (the same
# fixed-cardinality pathology embedding_neardup_fps was convicted of
# in r6). Dropping buckets above the cap bounds candidates at
# N*cap per chunk (linear in N); a bucket this hot is a degenerate
# template cluster whose pairs exact dedup already collapses. Same
# role and value as LSH_BUCKET_CAP on the minhash side.
SIMHASH_BUCKET_CAP = 100

# --- winnowing pair ranking -------------------------------------------------
# Fingerprints present in more than this many documents are dropped
# before the winnowing_pairs self-join (boilerplate, not plagiarism
# signal; one hot fp otherwise contributes C(ndocs,2) pairs). Same
# role and value as LSH_BUCKET_CAP; mirrored in the oracle.
WINNOWING_FP_CAP = 100

# --- containment join (asymmetric near-dup) --------------------------------
# Containment threshold t = NUM/DEN as an exact rational: both the
# prefix-filter pigeonhole bound (prefix_len = n_a - ceil(t*n_a) + 1)
# and the final filter (n_common*DEN >= NUM*n_a) stay in integer
# arithmetic, so no float-rounding boundary can silently break the
# losslessness proof (floor((1-t)*n) computed in binary doubles CAN
# round below the exact value at boundary n, shrinking the prefix one
# short of the pigeonhole requirement).
CONTAINMENT_NUM = 4
CONTAINMENT_DEN = 5  # t = 0.8

# --- embedding near-dup + similarity search --------------------------------
EMB_NEARDUP_THRESHOLD = 0.30
# Quantizer-refined blocking sizes its codebook as ceil(N / this):
# cardinality tracks the corpus so per-cell pair mass stays bounded
# (the sf1 audit's lesson — fixed cardinality goes quadratic). 256 is
# a power of two so the oracle's CEIL(count/256.0) is float-exact.
EMB_CELL_TARGET_ROWS = 256
KNN_NUM_QUERIES = 5  # vec_id < 5 are the query set
KNN_K = 10
LSH_TOPK = 5

# --- SemDeDup ---------------------------------------------------------------
# Codebook training sample: 1/SEMDEDUP_TRAIN_DENOM of the corpus by
# vec_id hash (plus the first-k seed ids, so seeding never starves).
# Training cost becomes iters * (N/denom) * cells instead of
# iters * N * cells; the single full-corpus assignment that remains is
# the IVF list-building pass every deployment pays once.
SEMDEDUP_TRAIN_DENOM = 16
# Pair threshold for SemDeDup over the HASHING-TRICK text vectors
# (semdedup_text_prune): bag-of-words hash vectors of same-domain
# synthetic docs are far more correlated than the isotropic synthetic
# embeddings, so the 0.30 embedding threshold would prune half the
# corpus; 0.80 targets the reformatted/near-copy band (exact copies
# land at 1.0, unrelated docs in this fixture sit well below).
SEMDEDUP_TEXT_THRESHOLD = 0.80

# --- Bloom filter membership sketch ----------------------------------------
# 64 registers x 62 usable bits/register = 3968-bit filter. 62 (not 64)
# bits per BIGINT register keeps every shiftleft(1, bit) strictly
# positive on both engines — no sign-bit / overflow edge to reconcile.
# K=2 probes via double hashing from ONE md5 digest (h1 + j*h2).
BLOOM_REGS = 64
BLOOM_REG_BITS = 62
BLOOM_K = 2

# --- CDC routing -----------------------------------------------------------
# Largest rule list the router compiles: cdc._route_expr, which every
# routing entry point goes through, turns the list into one ordered
# when-chain (one scan, zero shuffles) when the query is built, and
# raises ValueError for a longer list. Sized well under Catalyst codegen
# limits for a 3-predicate CASE branch per rule.
ROUTE_COMPILE_MAX_RULES = 1000

# --- multimodal ------------------------------------------------------------
FRAME_BYTES = 256  # fake "frame" granularity for the decode stub
IVF_NPROBE = 2  # cells probed per query in knn_ivf (shared with the oracle)

# --- image perceptual hash near-dup (r9) -----------------------------------
# 60-bit dHash over the REAL PPM decode path: grayscale luma
# (r + 2g + b) // 4, nearest-neighbor resize to PHASH_COLS x PHASH_ROWS
# sample grid, bit = gray[r][c] > gray[r][c+1] packed MSB-first —
# (PHASH_COLS - 1) * PHASH_ROWS = 60 bits, so the hash stays strictly
# positive in BIGINT and reuses the simhash 4 x 15-bit chunk blocking
# (Manku WWW'07 pigeonhole: Hamming <= 3 fully recalled by 4 chunks).
PHASH_ROWS = 4
PHASH_COLS = 16
PHASH_BITS = (PHASH_COLS - 1) * PHASH_ROWS  # 60
PHASH_CHUNKS = 4
PHASH_CHUNK_BITS = 15
PHASH_MAX_HAMMING = 4  # same recall caveat as SIMHASH_MAX_HAMMING
PHASH_BUCKET_CAP = 100  # LSH_BUCKET_CAP's rule on chunk buckets

# Closed-form fixture (mirrored verbatim in the oracle): docs in the
# same PHASH_GROUP share a base image; each doc perturbs ONE raster
# byte (+128 mod 256), so group-mates are near-dups (Hamming ~0-4,
# the perturbed byte is rarely a sampled grid point) and cross-group
# hashes are far (~30 expected).
PHASH_GROUP = 4
PHASH_W_BASE, PHASH_W_MOD = 20, 5  # width  = 20 + base % 5
PHASH_H_BASE, PHASH_H_MOD = 8, 3  # height = 8 + base % 3
# byte i = (base*37 + i*11 + i*i*(1 + base % 7)) % 256 — the
# base-dependent QUADRATIC term matters: a purely linear raster gives
# every same-dimensions image a constant sampled-luma stride, making
# CROSS-group hashes near-identical (measured: 1577 pairs at 500 docs,
# mostly cross-group artifact); with it, all 750 within-group pairs
# are found and only 18 cross-group survive.
PHASH_PIX_A, PHASH_PIX_B, PHASH_PIX_QMOD = 37, 11, 7
PHASH_PERT_STEP = 13  # perturbed byte index = (doc_id*13) % (w*h*3)

# --- bigram-backoff surprisal (r9) -----------------------------------------
# Stupid-backoff bigram LM (Brants et al., EMNLP 2007), integer-exact:
# a bigram seen >= BIGRAM_MIN_COUNT times scores whole-bit conditional
# surprisal floor(log2(ctx // c2)); rarer bigrams (singletons — the
# counts a trained LM prunes) back off to the token's unigram
# surprisal plus BIGRAM_BACKOFF_BITS. The penalty is exactly 2 bits =
# a backoff weight of 1/4 — the one alpha in stupid backoff's
# usual 0.3-0.4 range that is a power of two, so the score stays in
# pure integer arithmetic (the no-transcendentals house rule).
BIGRAM_MIN_COUNT = 2
BIGRAM_BACKOFF_BITS = 2

# --- audio fingerprint near-dup (r9) ---------------------------------------
# 60-bit energy-contour fingerprint over the REAL WAV decode path: the
# audio sibling of the image dHash (and of Haitsma-Kalman's energy-
# difference fingerprints, stripped of the FFT the no-transcendentals
# rule bans): 16-sample frames, int64 square-sum energies, bit f =
# energy[f] > energy[f+1] over the first 61 frames, packed MSB-first —
# 60 bits, strictly positive, paired via the same 4 x 15-bit chunk
# blocking (dedup.hamming_chunk_pairs).
AFP_FRAME = 16  # samples per frame (multimodal.AUDIO_FRAME's value)
AFP_NFRAMES = 61  # fingerprint reads frames 0..60 -> 60 comparison bits
AFP_CHUNKS = 4
AFP_CHUNK_BITS = 15
AFP_MAX_HAMMING = 4
AFP_BUCKET_CAP = 100

# Closed-form fixture (mirrored in the oracle): docs in a PHASH_GROUP-
# sized group share a base clip of exactly AFP_NFRAMES*AFP_FRAME = 976
# samples, s_i = (base*7919 + i*104729 + i*i*(1 + base % 251))
# % 65536 - 32768 — as with the image fixture, the base-dependent
# QUADRATIC term is what decorrelates contours across bases (a purely
# linear ramp gave 7708 cross-group pairs at 500 docs; the narrow
# Q=7 variant still 502; Q=251 gives 750/750 within-group and ZERO
# cross-group); each doc
# REPLACES one sample with the constant AFP_PERT_VALUE (no division —
# floor-vs-truncate semantics on negatives never enters the closed
# form), changing one frame's energy, so group-mates differ in <= 2
# contour bits and cross-group contours are independent coin flips
# (~30 bits apart).
AFP_GROUP = 4
AFP_SAMP_A, AFP_SAMP_B, AFP_SAMP_QMOD = 7919, 104729, 251
AFP_PERT_STEP = 17  # perturbed sample index = (doc_id*17) % n_samples
AFP_PERT_VALUE = 12345

# --- video frame-match near-dup (r9) ----------------------------------------
# Frame-fingerprint video dedup (the industry shape: index per-frame
# perceptual hashes, match videos sharing many frames — robust to
# re-encode noise via the dHash, to clipping/re-editing via per-frame
# granularity): each "video" is a multi-frame container of real P6 PPM
# frames demuxed by header parsing, each frame dHash-ed through the
# SAME real decode path as image_phash, videos paired by a capped
# frame-hash equi-join and kept at >= VID_MIN_MATCH distinct shared
# frame hashes.
VID_NFRAMES = 10
VID_W, VID_H = 16, 4  # frame dims == the dHash grid: resize is identity,
#                       decode/luma/packing still fully exercised
VID_GROUP = 4  # videos per fixture group (PHASH_GROUP's role)
VID_UPOS_A, VID_UPOS_B = 3, 7  # video-unique frame positions
#   p0 = (v*3) % 10, p1 = (v*7 + 1) % 10 — never equal: p0 = p1 needs
#   (4v + 1) % 10 == 0, impossible for even 4v vs odd 9
VID_SALT_UNIQ = 1_000_003  # seed offset for video-unique frames; group
#   seeds are g*VID_NFRAMES + f < 1e6 at every test SF, so the two
#   seed families never collide
VID_FRAME_CAP = 100  # a frame hash in >cap videos is an intro card /
#   black frame — boilerplate whose match is evidence of nothing
#   (LSH_BUCKET_CAP's candidate-generation rule, oracle-mirrored)
VID_MIN_MATCH = 5  # group-mates share >= VID_NFRAMES - 2*2 positions
#   (each video replaces 2 frames with video-unique content) = 6
#   frames; threshold 5 keeps one frame of slack
# Frame raster closed form: md5-derived rows — the repo's portable
# cross-engine primitive. The phash/afp quadratic family is too
# structured here (frames of the SAME group collided in dHash space:
# only ~64k distinguishable raster classes), and affine integer mixes
# collapse too ((seed + f(i))*M mod 2^32 is one 32-bit offset — nearby
# offsets share top bytes). Row r of frame seed s is the 16 bytes of
# md5(s || '|' || r) — one digest per row = exactly PHASH_COLS grays,
# all three channels equal so luma (v + 2v + v) // 4 == v; dHash bits
# are then independent coin flips across distinct seeds (collision
# ~2^-60) and the oracle recomputes each gray as ONE md5 substr.

# --- video scene cuts (r9) ---------------------------------------------------
# Scene segmentation over per-frame dHashes: a cut between adjacent
# frames whose fingerprints differ by > VID_CUT_HAMMING bits — the
# frame-sampling primitive a video training pipeline keys on (sample
# per scene, not per fixed stride). Scene-structured fixture (its own
# synth, separate from the frame-match group fixture): scene runs of
# IDENTICAL frames (consecutive video frames are near-dups in real
# footage; identical is the integer-exact idealization), boundary
# before frame f (f >= 1) iff f*f % VID_SCENE_MOD == doc_id %
# VID_SCENE_MOD — quadratic residues mod 5 are {0, 1, 4}, so videos
# with doc_id % 5 in {2, 3} are single-scene and the rest cut at
# irregular positions (n_cuts in {0, 1, 4}); frame content seeds are
# VID_SCENE_SALT + doc_id * 32 + scene_id, md5-row rasters like the
# frame-match fixture.
VID_CUT_HAMMING = 10
VID_SCENE_MOD = 5
VID_SCENE_SALT = 2_000_003

# --- audio silence segmentation (late r9) ------------------------------------
# VAD-style run-length segmentation: frame energies from the REAL
# RIFF/PCM16 decode, frame active iff energy > VAD_ENERGY_THRESHOLD,
# maximal runs of equal activity become segments (gaps-and-islands).
# Activity-structured fixture (its own synth): VAD_NFRAMES frames of
# VAD_FRAME samples; activity is laid out in VAD_BLOCK-frame blocks —
# block b of doc d is active iff (d*VAD_ACT_A + b*VAD_ACT_B) %
# VAD_ACT_MOD < VAD_ACT_LT (60% duty cycle, runs merge across
# like-signed adjacent blocks so segment lengths vary per doc).
# Active samples take the noise form (d*7919 + i*104729) % 65536 -
# 32768 (the WAV family's congruence); silent samples take the tiny
# form (d + i) % 16 - 8. The threshold is unambiguous by construction:
# silent frame energy <= 16 * 8^2 = 1024, while consecutive noise
# samples step by ±26343 (104729 % 65536 wrapped), so no two adjacent
# samples are both small and active energy >= 8 * 20343^2 ~ 3.3e9 —
# six orders of magnitude of margin on both sides of 1e6.
VAD_NFRAMES = 64
VAD_FRAME = 16  # samples per frame (AUDIO_FRAME's value)
VAD_BLOCK = 8  # frames per activity block
VAD_ACT_A, VAD_ACT_B, VAD_ACT_MOD, VAD_ACT_LT = 31, 17, 5, 3
VAD_TINY_MOD = 16  # silent samples span [-8, 7]
VAD_ENERGY_THRESHOLD = 1_000_000
