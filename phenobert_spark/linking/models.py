"""Deterministic model-analog components (SURVEY.md §2.8 M1-M4).

The reference's trained weights are missing blobs (its CNN/BERT stages
cannot be bit-reproduced — SURVEY.md §7.4 risk 3), so the rebuild ships
the same *architecture family* with deterministic, training-free
parameters:

* M1 fastText-embed analog — ``HashedEncoder``: signed feature-hashed
  char 3-gram + whole-token embedding, L2-normalized, order-independent
  across tokens (mirrors the sorted-bag philosophy of the dictionary
  key). No weights to ship; identical on every run and every worker.
* M2 L1 router analog — cosine against 25 L1-subtree centroid vectors,
  multi-label select with threshold p1 (util.py:1104-1108 semantics).
* M3 subtree scorer analog — cosine against per-concept centroid
  vectors (mean of the concept's surface-form embeddings), top-k >= p2
  within routed L1 subtrees (util.py:1136-1150).
* M4 pair re-ranker analog — per (phrase, concept) fine score:
  max over the concept's surfaces of a blend of char-ngram cosine and
  token Jaccard; accept >= p3 (util.py:773-833's match-classifier role).

Everything is numpy; scoring is one BLAS matmul per Arrow batch.
The index (concept matrix + L1 mask + surfaces) is built once on the
driver and broadcast (~30 MB for the full 14.4k-concept ontology).
"""

from __future__ import annotations

import zlib
from dataclasses import dataclass

import numpy as np

from ..functions.normalize import lemma
from ..ontology import Ontology


def _crc(s: str) -> int:
    return zlib.crc32(s.encode("utf-8"))


class HashedEncoder:
    """Signed feature hashing of char 3-grams (+ whole token), summed
    over tokens, L2-normalized. Token-order independent."""

    def __init__(self, dim: int = 512):
        self.dim = dim
        self._token_cache: dict[str, np.ndarray] = {}

    def _token_vec(self, tok: str) -> np.ndarray:
        v = self._token_cache.get(tok)
        if v is not None:
            return v
        v = np.zeros(self.dim, dtype=np.float32)
        padded = f"<{tok}>"
        # 3+4-gram features + low-weight whole-token feature: tuned for
        # morphological-variant separation (close pairs >=0.6 cosine,
        # unrelated pairs <=0.36 on the calibration word set)
        feats = [(padded[i : i + 3], 1.0) for i in range(max(len(padded) - 2, 1))]
        feats += [(padded[i : i + 4], 1.0) for i in range(max(len(padded) - 3, 1))]
        feats.append(("##" + tok, 0.5))
        for f, w in feats:
            h = _crc(f)
            sign = 1.0 if (h >> 31) & 1 == 0 else -1.0
            v[h % self.dim] += sign * w
        n = np.linalg.norm(v)
        if n > 0:
            v /= n
        if len(self._token_cache) < 200_000:
            self._token_cache[tok] = v
        return v

    def encode(self, phrases: list[str]) -> np.ndarray:
        """phrases: whitespace-joined simple tokens -> (n, dim) float32,
        rows L2-normalized (zero rows stay zero)."""
        out = np.zeros((len(phrases), self.dim), dtype=np.float32)
        for r, p in enumerate(phrases):
            toks = p.split()
            if not toks:
                continue
            acc = np.zeros(self.dim, dtype=np.float32)
            for t in toks:
                acc += self._token_vec(t)
            n = np.linalg.norm(acc)
            if n > 0:
                out[r] = acc / n
        return out


@dataclass
class ConceptIndex:
    """Driver-built, broadcast-ready linking index."""

    dim: int
    concept_ids: list[str]                 # row order of concept_mat
    concept_mat: np.ndarray                # (n_concepts, dim) float32, normalized
    l1_ids: list[str]
    l1_mat: np.ndarray                     # (n_l1, dim) float32, normalized
    concept_l1: np.ndarray                 # (n_concepts, n_l1) bool membership
    surfaces: dict[str, list[str]]         # concept -> simple surface strings
    surface_token_sets: dict[str, list[frozenset]]
    # IDF over the surface corpus (lemma space) + mined substitution
    # bridges — the weighting the fuzzy_idf scorer (pair_score_idf)
    # uses; fit from the SHIPPED surfaces only (train.txt data).
    token_idf: dict[str, float] = None     # lemma -> idf
    max_idf: float = 0.0
    subs: frozenset = frozenset()          # (lemma_a, lemma_b) bridges

    @classmethod
    def build(
        cls,
        onto: Ontology,
        dim: int = 512,
        gcn_lambda: float = 0.0,
        subs_min_count: int = 3,
    ) -> "ConceptIndex":
        """``gcn_lambda``: ancestor-smoothing mix — the analog of the
        reference GCN's ancestor-weight propagation (util.py:540-575:
        w(c,c)=1, w(c,a)=sum_f w(f,a)/len(fathers)). On the rebuilt
        2-level DAG (L1 subtree pseudo-parents; the real is_a edges live
        in the missing hpo.json blob) that recursion reduces to blending
        each concept centroid with the mean of its L1-parent centroids:
        v(c) = normalize(centroid(c) + lambda * mean_f l1_centroid(f)).
        0 disables; calibrated on val."""
        from ..functions.normalize import process_str, simplify_tokens

        enc = HashedEncoder(dim)
        concept_ids = sorted(onto.names)
        simple_surfaces: dict[str, list[str]] = {}
        token_sets: dict[str, list[frozenset]] = {}
        mats = []
        for cid in concept_ids:
            ss, ts = [], []
            vecs = []
            for s in onto.all_surfaces(cid):
                toks = simplify_tokens(process_str(s)) or process_str(s)
                if not toks:
                    continue
                joined = " ".join(toks)
                ss.append(joined)
                ts.append(frozenset(toks))
                vecs.append(enc.encode([joined])[0])
            simple_surfaces[cid] = ss
            token_sets[cid] = ts
            if vecs:
                m = np.mean(vecs, axis=0)
                n = np.linalg.norm(m)
                mats.append(m / n if n > 0 else m)
            else:
                mats.append(np.zeros(dim, dtype=np.float32))
        concept_mat = np.vstack(mats).astype(np.float32)

        l1_ids = sorted(onto.layer1)
        cid_pos = {c: i for i, c in enumerate(concept_ids)}
        concept_l1 = np.zeros((len(concept_ids), len(l1_ids)), dtype=bool)
        l1_rows = []
        for j, l1 in enumerate(l1_ids):
            members = [m for m in onto.layer1[l1] if m in cid_pos]
            for m in members:
                concept_l1[cid_pos[m], j] = True
            if members:
                mvec = concept_mat[[cid_pos[m] for m in members]].mean(axis=0)
                n = np.linalg.norm(mvec)
                l1_rows.append(mvec / n if n > 0 else mvec)
            else:
                l1_rows.append(np.zeros(dim, dtype=np.float32))
        l1_mat = (
            np.vstack(l1_rows).astype(np.float32)
            if l1_rows
            else np.zeros((0, dim), dtype=np.float32)
        )
        if gcn_lambda > 0.0 and len(l1_ids):
            # ancestor smoothing over TRUE memberships (before the
            # unrouted fallback widens concept_l1 for routing)
            n_parents = concept_l1.sum(axis=1, keepdims=True).astype(np.float32)
            routed = n_parents[:, 0] > 0
            anc = (concept_l1.astype(np.float32) @ l1_mat) / np.maximum(
                n_parents, 1.0
            )
            sm = concept_mat.copy()
            sm[routed] += gcn_lambda * anc[routed]
            norms = np.linalg.norm(sm, axis=1, keepdims=True)
            concept_mat = (sm / np.maximum(norms, 1e-12)).astype(np.float32)
        # concepts with no L1 route stay reachable (routing must not
        # silently drop ontology regions)
        unrouted = ~concept_l1.any(axis=1)
        if unrouted.any() and l1_ids:
            concept_l1[unrouted, :] = True
        # IDF in lemma space over all surfaces + substitution bridges
        import math
        from collections import defaultdict

        df_counts: dict[str, int] = defaultdict(int)
        n_surf = 0
        for cid in concept_ids:
            for ts in token_sets[cid]:
                if not ts:
                    continue
                n_surf += 1
                for t in {lemma(t) for t in ts}:
                    df_counts[t] += 1
        token_idf = {
            t: math.log((1 + n_surf) / (1 + c)) for t, c in df_counts.items()
        }
        max_idf = math.log(1.0 + n_surf)
        # Scorer bridges use a LOWER co-variation threshold than the
        # dictionary tier (x3 vs x10): a bridge only softens token
        # similarity inside the fuzzy re-ranker (which still demands
        # full-phrase coverage + its acceptance threshold), so the
        # precision cost of a rare pair is far smaller than minting a
        # dictionary key from it. x3 recovers real medical synonymy
        # the x10 tier misses ("eye"~"eyeball", "eye"~"ocular").
        subs = set()
        for a, b in onto.mined_substitutions(subs_min_count):
            if len(a) == 1 and len(b) == 1:
                subs.add((next(iter(a)), next(iter(b))))
        return cls(
            dim=dim,
            concept_ids=concept_ids,
            concept_mat=concept_mat,
            l1_ids=l1_ids,
            l1_mat=l1_mat,
            concept_l1=concept_l1,
            surfaces=simple_surfaces,
            surface_token_sets=token_sets,
            token_idf=token_idf,
            max_idf=max_idf,
            subs=frozenset(subs),
        )


# per-worker cache: concept -> (token array, lemma array, (n_tok, dim)
# token-vector matrix, per-surface row slices). Keyed by index identity
# so a rebroadcast index never serves stale rows.
_ALIGN_CACHE: dict[int, dict[str, tuple]] = {}


def _surface_align_data(
    enc: HashedEncoder, concept_id: str, index: ConceptIndex
) -> tuple:
    """(lemmas, vec matrix, surface bounds, stems, idf) for a concept's
    surface tokens, cached per worker."""
    from ..functions.normalize import stem

    cache = _ALIGN_CACHE.setdefault(id(index), {})
    hit = cache.get(concept_id)
    if hit is not None:
        return hit
    toks: list[str] = []
    bounds: list[tuple[int, int]] = []
    for ts in index.surface_token_sets[concept_id]:
        if not ts:
            continue
        a = len(toks)
        toks.extend(sorted(ts))
        bounds.append((a, len(toks)))
    if toks:
        mat = np.vstack([enc._token_vec(t) for t in toks])
    else:
        mat = np.zeros((0, enc.dim), dtype=np.float32)
    lems = [lemma(t) for t in toks]
    idf_map = index.token_idf or {}
    data = (
        np.array(lems, dtype=object),
        mat,
        bounds,
        np.array([stem(t) for t in lems], dtype=object),
        np.array([idf_map.get(t, index.max_idf) for t in lems], dtype=np.float64),
    )
    cache[concept_id] = data
    return data


# Abnormality/direction-bearing tokens (lemma space): the semantic
# pivot of a phenotype surface. A surface whose ONLY abnormality token
# goes unmatched must not be accepted on anatomy alone — "mitral
# valve" is not "abnormality of the mitral valve", "head
# circumference" is not "reduced head circumference". Standard
# clinical-modifier vocabulary (public knowledge) + the high-frequency
# modifier tokens of the shipped surface corpus.
ABNORMALITY_TOKENS = frozenset(
    """abnormality abnormal abnormally anomaly anomalous defect deformity
    malformation malformed dysplasia dysplastic dystrophy aplasia agenesis
    aplastic hypoplasia hypoplastic hyperplasia hyperplastic atrophy
    hypertrophy absence absent missing loss lack increased increase
    decreased decrease reduced reduction elevated elevation impaired
    impairment deficiency deficient degeneration degenerated enlarged
    enlargement dilated dilatation dilation small large big long short
    narrow wide broad thin thick high low prominent flat fusion fused
    delayed delay premature progressive recurrent excessive accessory
    extra duplicated duplication cleft stenosis obstruction overgrowth
    underdeveloped undergrowth shortened lengthened curved bowed bowing
    hyper hypo""".split()
)

# Meaning-bearing clinical suffixes: a token that EXTENDS another with
# one of these is a different concept, not a morphological variant
# ("hydroxyproline" vs "hydroxyprolinEMIA", "kerato" vs "keratOMA").
# Char-similar tokens whose residual tails avoid this list and share a
# >= 6-char prefix are promoted to exact matches ("craniosynostosic" ~
# "craniosynostosis" — the stems differ by one char, so stem equality
# alone misses them).
ABN_SUFFIXES = frozenset(
    """emia aemia uria osis itis oma omas pathy penia megaly cele
    rrhea rrhoea rrhage ectasia plasia trophy plegia paresis spasm
    algia cytosis sclerosis stenosis ptosis oedema edema""".split()
)


def _suffix_safe(a: str, b: str) -> bool:
    """True when a/b look like morphological variants: common prefix
    >= 6 chars and neither residual tail is a meaning-bearing suffix."""
    k = 0
    for x, y in zip(a, b):
        if x != y:
            break
        k += 1
    if k < 6:
        return False
    return a[k:] not in ABN_SUFFIXES and b[k:] not in ABN_SUFFIXES


# Mutually-exclusive qualifier pairs: a phrase naming one side must not
# fuzzy-match a surface naming the other ("narrow INTERNAL auditory
# meatus" is not "stenosis of the EXTERNAL auditory canal"). Checked
# only when the clashing tokens are themselves unmatched.
CONTRAST_PAIRS: tuple[tuple[frozenset, frozenset], ...] = tuple(
    (frozenset(a.split("|")), frozenset(b.split("|")))
    for a, b in [
        ("internal", "external"),
        ("upper|superior", "lower|inferior"),
        ("proximal", "distal"),
        ("anterior", "posterior"),
        ("left", "right"),
        ("increased|increase|elevated|high|hyper", "decreased|decrease|reduced|low|hypo"),
        ("large|enlarged|broad|wide|macro", "small|narrow|micro"),
        ("early", "late"),
        ("congenital|prenatal", "postnatal|acquired"),
    ]
)


def pair_score_idf(
    enc: HashedEncoder,
    phrase: str,
    concept_id: str,
    index: ConceptIndex,
) -> float:
    """M4 analog, IDF-weighted fuzzy alignment (the validated recall
    scorer from tools/model_lab.py): the best surface of the concept,
    scored by how well each side's tokens are witnessed by the other's
    — each side's coverage is an IDF-WEIGHTED mean of per-token
    best-match similarities, so an unmatched low-information modifier
    ("abnormally", "mild") costs little while an unmatched head token
    costs a lot. Token equality extends to stem equality and the mined
    substitution bridges (index.subs).

    Offline on the val FN dump this ranks the gold concept first for
    50/102 misses (vs ~0 recovered by a min-coverage alignment); the
    acceptance threshold/margin are calibrated end-to-end on val
    (cfg.model_p3 / cfg.model_margin)."""
    from ..functions.normalize import stem

    ptoks = phrase.split()
    if not ptoks:
        return 0.0
    lemarr, mat, bounds, stemarr, idfarr = _surface_align_data(
        enc, concept_id, index
    )
    if not bounds:
        return 0.0
    plem = [lemma(t) for t in ptoks]
    pvec = np.vstack([enc._token_vec(t) for t in plem])  # (m, dim)
    sims = np.clip(mat @ pvec.T, 0.0, 1.0)  # (n_tok, m)
    pstem = np.array([stem(t) for t in plem], dtype=object)
    parr = np.array(plem, dtype=object)
    eq = (lemarr[:, None] == parr[None, :]) | (
        stemarr[:, None] == pstem[None, :]
    )
    subs = index.subs
    if subs:
        for j, pt in enumerate(plem):
            bridged = [
                i
                for i, st in enumerate(lemarr)
                if (st, pt) in subs or (pt, st) in subs
            ]
            if bridged:
                eq[bridged, j] = True
    # promote suffix-safe char-similar pairs to exact matches (true
    # morphological variants whose stems happen to differ)
    for i, j in np.argwhere((sims >= 0.8) & ~eq):
        if _suffix_safe(str(lemarr[i]), plem[j]):
            eq[i, j] = True
    np.copyto(sims, 1.0, where=eq)
    idf_map = index.token_idf or {}
    p_idf = np.array(
        [idf_map.get(t, index.max_idf) for t in plem], dtype=np.float64
    )
    p_w = p_idf.sum() or 1.0
    phrase_has_abn = any(t in ABNORMALITY_TOKENS for t in plem)
    single = len(plem) == 1
    abn_mask = np.array([t in ABNORMALITY_TOKENS for t in lemarr], dtype=bool)
    pset = set(plem)
    best = 0.0
    for a, b in bounds:
        sub = sims[a:b]
        # contrast gate: phrase says one side, surface says the other
        stoks = set(lemarr[a:b])
        clash = False
        for ca, cb in CONTRAST_PAIRS:
            if (pset & ca and stoks & cb and not (pset & cb) and not (stoks & ca)) or (
                pset & cb and stoks & ca and not (pset & ca) and not (stoks & cb)
            ):
                clash = True
                break
        if clash:
            continue
        # single-token phrases must match a surface token EXACTLY
        # (lemma/stem/substitution) — char-ngram look-alikes are not
        # evidence ("hydroxyproline" is not "hydroxyprolinemia")
        if single and not bool(eq[a:b].any()):
            continue
        # pivot gate: if the surface carries abnormality tokens and
        # NONE of them is witnessed (>= 0.8), the phrase must bring its
        # own abnormality token — anatomy alone never names a phenotype
        am = abn_mask[a:b]
        if am.any() and not phrase_has_abn:
            if float(sub[am].max(axis=1).max()) < 0.8:
                continue
        w = idfarr[a:b]
        cover_s = float((sub.max(axis=1) * w).sum() / (w.sum() or 1.0))
        if cover_s <= best:
            continue
        cover_p = float((sub.max(axis=0) * p_idf).sum() / p_w)
        score = min(cover_s, cover_p)
        if score > best:
            best = score
    return best


class RelaxedVocab:
    """Candidate-pruning vocabulary for the model path: a token is
    eligible if it, its lemma, or its 5-char prefix appears in the
    dictionary vocabulary — keeps morphological variants ("mutilating"
    ~ "mutilation") while still pruning filler k-mers."""

    def __init__(self, base: frozenset[str]):
        self.base = base
        self.prefixes = frozenset(w[:5] for w in base if len(w) >= 5)

    def __contains__(self, tok: str) -> bool:
        if tok in self.base or lemma(tok) in self.base:
            return True
        return len(tok) >= 5 and tok[:5] in self.prefixes
