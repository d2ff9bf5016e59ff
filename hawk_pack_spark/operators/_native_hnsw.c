/* Partition-local HNSW kernel, C form of _hnsw_kernel.py's build_local
 * (insert/search_to_insert/connect_bidir/select_neighbors) and of
 * LocalHNSW.search over a frozen (CSR) index (hps_search).
 *
 * Same algorithm, same tie-breaking, same candidate/beam heap semantics
 * as the Python kernel (heapq on (dist, node) tuples): every comparator
 * here is the lexicographic tuple compare.  Distances:
 *   - hamming: popcount(xor) — exact integers, bit-identical to Python.
 *   - l2_sq:   sequential accumulation sum((a_i-b_i)^2), compiled with
 *     -ffp-contract=off so the float result is a fixed, deterministic
 *     function of the inputs (see _native.py for the parity argument
 *     vs numpy's SIMD einsum reduction).
 *
 * Built by hawk_pack_spark/operators/_native.py with gcc at first use;
 * if compilation is unavailable the Python kernel path runs instead
 * (identical semantics, just slower).
 */
#include <stdint.h>
#include <stdlib.h>
#include <string.h>

typedef struct {
    double d;
    int64_t n;
} pair_t;

/* candidate heap: min on (d, n) */
static inline int cand_less(pair_t a, pair_t b) {
    return a.d < b.d || (a.d == b.d && a.n < b.n);
}
/* beam heap: python heapq on (-d, n) => top is max d, tie min n */
static inline int beam_less(pair_t a, pair_t b) {
    return a.d > b.d || (a.d == b.d && a.n < b.n);
}

typedef struct {
    pair_t *v;
    int64_t len, cap;
} heap_t;

static void heap_reserve(heap_t *h, int64_t need) {
    if (h->cap < need) {
        int64_t c = h->cap ? h->cap : 64;
        while (c < need) c *= 2;
        h->v = (pair_t *)realloc(h->v, c * sizeof(pair_t));
        h->cap = c;
    }
}

#define HEAP_OPS(NAME, LESS)                                                  \
static void NAME##_siftdown(heap_t *h, int64_t start, int64_t pos) {          \
    pair_t item = h->v[pos];                                                  \
    while (pos > start) {                                                     \
        int64_t parent = (pos - 1) >> 1;                                      \
        if (LESS(item, h->v[parent])) {                                       \
            h->v[pos] = h->v[parent];                                         \
            pos = parent;                                                     \
        } else break;                                                         \
    }                                                                         \
    h->v[pos] = item;                                                         \
}                                                                             \
static void NAME##_siftup(heap_t *h, int64_t pos) {                           \
    int64_t end = h->len, start = pos;                                        \
    pair_t item = h->v[pos];                                                  \
    int64_t child = 2 * pos + 1;                                              \
    while (child < end) {                                                     \
        if (child + 1 < end && !LESS(h->v[child], h->v[child + 1]))           \
            child += 1;                                                       \
        h->v[pos] = h->v[child];                                              \
        pos = child;                                                          \
        child = 2 * pos + 1;                                                  \
    }                                                                         \
    h->v[pos] = item;                                                         \
    NAME##_siftdown(h, start, pos);                                           \
}                                                                             \
static void NAME##_push(heap_t *h, pair_t item) {                             \
    heap_reserve(h, h->len + 1);                                              \
    h->v[h->len++] = item;                                                    \
    NAME##_siftdown(h, 0, h->len - 1);                                        \
}                                                                             \
static pair_t NAME##_pop(heap_t *h) {                                         \
    pair_t last = h->v[--h->len];                                             \
    if (h->len) {                                                             \
        pair_t ret = h->v[0];                                                 \
        h->v[0] = last;                                                       \
        NAME##_siftup(h, 0);                                                  \
        return ret;                                                           \
    }                                                                         \
    return last;                                                              \
}                                                                             \
static pair_t NAME##_replace(heap_t *h, pair_t item) {                        \
    pair_t ret = h->v[0];                                                     \
    h->v[0] = item;                                                           \
    NAME##_siftup(h, 0);                                                      \
    return ret;                                                               \
}                                                                             \
static void NAME##_heapify(heap_t *h) {                                       \
    for (int64_t i = h->len / 2 - 1; i >= 0; i--) NAME##_siftup(h, i);        \
}

HEAP_OPS(cand, cand_less)
HEAP_OPS(beam, beam_less)

/* pair sort: lexicographic (d, n) ascending — python tuple list.sort() */
static int pair_cmp(const void *pa, const void *pb) {
    const pair_t *a = (const pair_t *)pa, *b = (const pair_t *)pb;
    if (a->d < b->d) return -1;
    if (a->d > b->d) return 1;
    if (a->n < b->n) return -1;
    if (a->n > b->n) return 1;
    return 0;
}

typedef struct {
    int64_t n;
    int32_t dim;        /* 0 for hamming */
    int metric;         /* 0 = l2_sq, 1 = hamming */
    const double *fdata;
    const uint64_t *codes;
    const int32_t *layers;      /* per-node assigned max layer */
    /* params, already clamped tables indexed by min(lc, npl-1) */
    const int32_t *p_m, *p_mmax, *p_efcs, *p_efci;
    int32_t npl;
    int heuristic;
    /* adjacency: per (node, layer<=node_layer) fixed-capacity slots */
    int64_t *node_off;   /* per node: base slot offset */
    int32_t *cap_tab;    /* per layer index (clamped): capacity */
    pair_t *pool;        /* slot pool */
    int32_t *alen;       /* per (node,layer) current length, same indexing */
    int64_t *lay_off;    /* per node: index into alen, = node_off scaled.. */
    int64_t entry;       /* -1 none */
    int32_t entry_layer;
    /* scratch */
    int32_t *visited_epoch;
    int32_t epoch;
    heap_t cand_h, beam_h;
    pair_t *scratch;     /* generic pair scratch */
    int64_t scratch_cap;
    int64_t *nbr_scratch;
    double *dist_scratch;
    int64_t nbr_cap;
    int32_t max_layer_cap;   /* max representable layer from layers[] */
    /* frozen search-only adjacency (hps_search): per layer CSR, NULL
     * indptr = layer absent; when set, the slot pool above is unused */
    const int64_t *const *csr_indptr, *const *csr_nbrs;
    int32_t csr_nlayers;
} ctx_t;

static inline int32_t clampi(int32_t lc, int32_t npl) {
    return lc < npl - 1 ? lc : npl - 1;
}

static inline int32_t get_cap(ctx_t *c, int32_t lc) {
    int32_t i = clampi(lc, c->npl);
    int32_t m = c->p_m[i], mm = c->p_mmax[i];
    return (m > mm ? m : mm) + 1;
}

/* slot base for (node, lc): node_off[node] + sum cap over 0..lc-1 */
static inline pair_t *slots(ctx_t *c, int64_t node, int32_t lc) {
    int64_t off = c->node_off[node];
    for (int32_t j = 0; j < lc; j++) off += get_cap(c, j);
    return c->pool + off;
}
static inline int32_t *alen_at(ctx_t *c, int64_t node, int32_t lc) {
    return c->alen + c->lay_off[node] + lc;
}

static inline double dist1(ctx_t *c, int64_t a, int64_t b) {
    if (c->metric == 1)
        return (double)__builtin_popcountll(c->codes[a] ^ c->codes[b]);
    const double *x = c->fdata + a * c->dim, *y = c->fdata + b * c->dim;
    double acc = 0.0;
    for (int32_t j = 0; j < c->dim; j++) {
        double t = x[j] - y[j];
        acc += t * t;
    }
    return acc;
}

static void ensure_scratch(ctx_t *c, int64_t need) {
    if (c->scratch_cap < need) {
        int64_t cc = c->scratch_cap ? c->scratch_cap : 256;
        while (cc < need) cc *= 2;
        c->scratch = (pair_t *)realloc(c->scratch, cc * sizeof(pair_t));
        c->scratch_cap = cc;
    }
}
static void ensure_nbr(ctx_t *c, int64_t need) {
    if (c->nbr_cap < need) {
        int64_t cc = c->nbr_cap ? c->nbr_cap : 256;
        while (cc < need) cc *= 2;
        c->nbr_scratch = (int64_t *)realloc(c->nbr_scratch, cc * sizeof(int64_t));
        c->dist_scratch = (double *)realloc(c->dist_scratch, cc * sizeof(double));
        c->nbr_cap = cc;
    }
}

/* unvisited neighbours of `node` at layer lc into nbr_scratch, marked
 * visited; returns their count. The CSR form filters then marks, like
 * the Python kernel's numpy mask (a repeated neighbour is kept twice). */
static int64_t gather_unvisited(ctx_t *c, int64_t node, int32_t lc, int32_t ep) {
    int64_t k = 0;
    if (c->csr_indptr) {
        if (lc >= c->csr_nlayers || !c->csr_indptr[lc]) return 0;
        const int64_t *ns = c->csr_nbrs[lc] + c->csr_indptr[lc][node];
        int64_t nlen = c->csr_indptr[lc][node + 1] - c->csr_indptr[lc][node];
        ensure_nbr(c, nlen);
        for (int64_t j = 0; j < nlen; j++)
            if (c->visited_epoch[ns[j]] != ep) c->nbr_scratch[k++] = ns[j];
        for (int64_t j = 0; j < k; j++) c->visited_epoch[c->nbr_scratch[j]] = ep;
        return k;
    }
    int32_t nlen = *alen_at(c, node, lc);
    if (!nlen) return 0;
    pair_t *ns = slots(c, node, lc);
    ensure_nbr(c, nlen);
    for (int32_t j = 0; j < nlen; j++) {
        int64_t nb = ns[j].n;
        if (c->visited_epoch[nb] != ep) {
            c->visited_epoch[nb] = ep;
            c->nbr_scratch[k++] = nb;
        }
    }
    return k;
}

/* best-first beam search in one layer; w in/out (ascending (d,n)), returns
 * new length (<= ef). Mirrors LocalHNSW.search_layer exactly. */
static int64_t search_layer(ctx_t *c, int64_t q, pair_t *w, int64_t wlen,
                            int64_t ef, int32_t lc) {
    c->epoch++;
    int32_t ep = c->epoch;
    heap_t *cand = &c->cand_h, *beam = &c->beam_h;
    cand->len = 0;
    beam->len = 0;
    heap_reserve(cand, wlen);
    heap_reserve(beam, wlen);
    for (int64_t i = 0; i < wlen; i++) {
        c->visited_epoch[w[i].n] = ep;
        cand->v[cand->len++] = w[i];
        beam->v[beam->len++] = w[i];
    }
    cand_heapify(cand);
    beam_heapify(beam);
    while (beam->len > ef) beam_pop(beam);
    while (cand->len) {
        pair_t cc = cand_pop(cand);
        if (cc.d > beam->v[0].d) break;
        int64_t k = gather_unvisited(c, cc.n, lc, ep);
        if (!k) continue;
        for (int64_t j = 0; j < k; j++)
            c->dist_scratch[j] = dist1(c, q, c->nbr_scratch[j]);
        for (int64_t j = 0; j < k; j++) {
            double d = c->dist_scratch[j];
            int64_t n = c->nbr_scratch[j];
            pair_t it = {d, n};
            if (beam->len < ef) {
                beam_push(beam, it);
                cand_push(cand, it);
            } else if (d < beam->v[0].d) {
                beam_replace(beam, it);
                cand_push(cand, it);
            }
        }
    }
    int64_t outn = beam->len;
    for (int64_t i = 0; i < outn; i++) w[i] = beam->v[i];
    qsort(w, outn, sizeof(pair_t), pair_cmp);
    return outn;
}

/* Algorithm-4 / M-nearest neighbor selection; cand ascending (d,n) of
 * length cn; writes selection into out, returns length (<= m).
 * Mirrors _select_neighbors (incl. backfill-only final sort). */
static int64_t select_neighbors(ctx_t *c, int64_t cn, const pair_t *cand,
                                int64_t m, pair_t *out) {
    if (!c->heuristic || cn <= m) {
        int64_t k = cn < m ? cn : m;
        memcpy(out, cand, k * sizeof(pair_t));
        return k;
    }
    ensure_scratch(c, cn);
    pair_t *alive = c->scratch;
    memcpy(alive, cand, cn * sizeof(pair_t));
    int64_t an = cn, sn = 0;
    while (an && sn < m) {
        pair_t s = alive[0];
        out[sn++] = s;
        if (an == 1) break;
        int64_t k = 0;
        for (int64_t i = 1; i < an; i++) {
            double dcs = dist1(c, s.n, alive[i].n);
            if (alive[i].d < dcs) alive[k++] = alive[i];
        }
        an = k;
    }
    if (sn < m) {
        /* backfill with remaining nearest, then sort (python branch) */
        for (int64_t i = 0; i < cn && sn < m; i++) {
            int kept = 0;
            for (int64_t j = 0; j < sn; j++)
                if (out[j].n == cand[i].n) { kept = 1; break; }
            if (!kept) out[sn++] = cand[i];
        }
        qsort(out, sn, sizeof(pair_t), pair_cmp);
    }
    return sn;
}

static void connect_bidir(ctx_t *c, int64_t q, const pair_t *cand,
                          int64_t cn, int32_t lc) {
    int32_t ci = clampi(lc, c->npl);
    int64_t m = c->p_m[ci], mmax = c->p_mmax[ci];
    pair_t chosen[1024];
    int64_t k = select_neighbors(c, cn, cand, m, chosen);
    pair_t *qs = slots(c, q, lc);
    memcpy(qs, chosen, k * sizeof(pair_t));
    *alen_at(c, q, lc) = (int32_t)k;
    for (int64_t i = 0; i < k; i++) {
        int64_t n = chosen[i].n;
        pair_t *ns = slots(c, n, lc);
        int32_t *nl = alen_at(c, n, lc);
        /* append (d, q), keep sorted: python append + list.sort() */
        pair_t add = {chosen[i].d, q};
        int32_t pos = *nl;
        while (pos > 0 && pair_cmp(&add, &ns[pos - 1]) < 0) {
            ns[pos] = ns[pos - 1];
            pos--;
        }
        ns[pos] = add;
        (*nl)++;
        if (*nl > mmax) {
            pair_t trimmed[1024];
            int64_t tk = select_neighbors(c, *nl, ns, mmax, trimmed);
            memcpy(ns, trimmed, tk * sizeof(pair_t));
            *nl = (int32_t)tk;
        }
    }
}

static void insert_one(ctx_t *c, int64_t q, int32_t l) {
    /* per-layer candidate queues for layers 0..l (search_to_insert) */
    int32_t maxl = c->max_layer_cap;
    /* w beam buffer */
    int64_t efmax = 1;
    for (int32_t i = 0; i < c->npl; i++) {
        if (c->p_efci[i] > efmax) efmax = c->p_efci[i];
        if (c->p_efcs[i] > efmax) efmax = c->p_efcs[i];
    }
    (void)maxl;
    pair_t *w = (pair_t *)malloc((efmax + 8) * sizeof(pair_t));
    /* per_layer storage: (l+1) rows of up to efmax entries */
    pair_t *per = (pair_t *)malloc((size_t)(l + 1) * (efmax + 8) * sizeof(pair_t));
    int64_t *perlen = (int64_t *)calloc(l + 1, sizeof(int64_t));
    if (c->entry >= 0) {
        int32_t L = c->entry_layer;
        int64_t wlen = 1;
        w[0].d = dist1(c, q, c->entry);
        w[0].n = c->entry;
        int32_t stop = L < l ? L : l; /* min(L, insertion_layer) */
        for (int32_t lc = L; lc > stop; lc--) {
            int64_t ef = c->p_efcs[clampi(lc, c->npl)];
            wlen = search_layer(c, q, w, wlen, ef, lc);
        }
        for (int32_t lc = stop; lc >= 0; lc--) {
            int64_t ef = c->p_efci[clampi(lc, c->npl)];
            wlen = search_layer(c, q, w, wlen, ef, lc);
            memcpy(per + (size_t)lc * (efmax + 8), w, wlen * sizeof(pair_t));
            perlen[lc] = wlen;
        }
    }
    /* phase 2: connect (layers above current top stay empty lists) */
    for (int32_t lc = l; lc >= 0; lc--) {
        connect_bidir(c, q, per + (size_t)lc * (efmax + 8), perlen[lc], lc);
    }
    if (l > c->entry_layer) {
        c->entry = q;
        c->entry_layer = l;
    }
    free(w);
    free(per);
    free(perlen);
}

/* ---- public API ---- */

void *hps_build(int64_t n, int32_t dim, const double *fdata,
                const uint64_t *codes, int32_t metric,
                const int32_t *layers, const int64_t *order,
                const int32_t *p_m, const int32_t *p_mmax,
                const int32_t *p_efcs, const int32_t *p_efci,
                int32_t npl, int32_t heuristic,
                int64_t *out_total_edges) {
    ctx_t *c = (ctx_t *)calloc(1, sizeof(ctx_t));
    c->n = n;
    c->dim = dim;
    c->metric = metric;
    c->fdata = fdata;
    c->codes = codes;
    c->layers = layers;
    c->p_m = p_m;
    c->p_mmax = p_mmax;
    c->p_efcs = p_efcs;
    c->p_efci = p_efci;
    c->npl = npl;
    c->heuristic = heuristic;
    c->entry = -1;
    c->entry_layer = -1;
    int32_t maxl = 0;
    for (int64_t i = 0; i < n; i++)
        if (layers[i] > maxl) maxl = layers[i];
    c->max_layer_cap = maxl;
    /* slot pool layout */
    c->node_off = (int64_t *)malloc(n * sizeof(int64_t));
    c->lay_off = (int64_t *)malloc(n * sizeof(int64_t));
    int64_t off = 0, loff = 0;
    for (int64_t i = 0; i < n; i++) {
        c->node_off[i] = off;
        c->lay_off[i] = loff;
        for (int32_t lc = 0; lc <= layers[i]; lc++) off += get_cap(c, lc);
        loff += layers[i] + 1;
    }
    c->pool = (pair_t *)malloc(off * sizeof(pair_t));
    c->alen = (int32_t *)calloc(loff, sizeof(int32_t));
    c->visited_epoch = (int32_t *)calloc(n, sizeof(int32_t));
    c->epoch = 0;
    for (int64_t i = 0; i < n; i++) {
        int64_t pos = order[i];
        insert_one(c, pos, layers[pos]);
    }
    int64_t tot = 0;
    for (int64_t i = 0; i < n; i++)
        for (int32_t lc = 0; lc <= layers[i]; lc++)
            tot += *alen_at(c, i, lc);
    *out_total_edges = tot;
    return c;
}

/* export edges ordered by (node asc, layer asc, slot order) */
void hps_export(void *ctxp, int64_t *e_node, int32_t *e_layer,
                int64_t *e_dst, double *e_dist) {
    ctx_t *c = (ctx_t *)ctxp;
    int64_t k = 0;
    for (int64_t i = 0; i < c->n; i++) {
        for (int32_t lc = 0; lc <= c->layers[i]; lc++) {
            int32_t len = *alen_at(c, i, lc);
            pair_t *s = slots(c, i, lc);
            for (int32_t j = 0; j < len; j++) {
                e_node[k] = i;
                e_layer[k] = lc;
                e_dst[k] = s[j].n;
                e_dist[k] = s[j].d;
                k++;
            }
        }
    }
}

void hps_entry(void *ctxp, int64_t *entry, int32_t *entry_layer) {
    ctx_t *c = (ctx_t *)ctxp;
    *entry = c->entry;
    *entry_layer = c->entry_layer;
}

/* kNN over a frozen index for nq queries (LocalHNSW.search per query):
 * descend from the entry point with ef_tab[lc] per upper layer, then a
 * beam of ef0 (the caller's max(ef_search, k)) at layer 0. Data rows
 * 0..n-1 include the queries, staged at positions q_pos. Writes the
 * first k of each result into row q of the (nq, k) outputs, padding
 * with node -1 / dist 0. */
void hps_search(int64_t n, int32_t dim, const double *fdata,
                const uint64_t *codes, int32_t metric,
                const int64_t *const *indptr, const int64_t *const *nbrs,
                int32_t nlayers, int64_t entry, int32_t entry_layer,
                const int32_t *ef_tab, int64_t ef0, int64_t k,
                int64_t nq, const int64_t *q_pos,
                int64_t *out_node, double *out_dist) {
    ctx_t c;
    memset(&c, 0, sizeof(c));
    c.n = n;
    c.dim = dim;
    c.metric = metric;
    c.fdata = fdata;
    c.codes = codes;
    c.csr_indptr = indptr;
    c.csr_nbrs = nbrs;
    c.csr_nlayers = nlayers;
    c.visited_epoch = (int32_t *)calloc(n, sizeof(int32_t));
    int64_t wcap = ef0;
    for (int32_t lc = 1; lc <= entry_layer; lc++)
        if (ef_tab[lc] > wcap) wcap = ef_tab[lc];
    pair_t *w = (pair_t *)malloc((wcap + 1) * sizeof(pair_t));
    for (int64_t qi = 0; qi < nq; qi++) {
        int64_t q = q_pos[qi];
        w[0].d = dist1(&c, q, entry);
        w[0].n = entry;
        int64_t wlen = 1;
        for (int32_t lc = entry_layer; lc > 0; lc--)
            wlen = search_layer(&c, q, w, wlen, ef_tab[lc], lc);
        wlen = search_layer(&c, q, w, wlen, ef0, 0);
        for (int64_t j = 0; j < k; j++) {
            out_node[qi * k + j] = j < wlen ? w[j].n : -1;
            out_dist[qi * k + j] = j < wlen ? w[j].d : 0.0;
        }
    }
    free(w);
    free(c.visited_epoch);
    free(c.cand_h.v);
    free(c.beam_h.v);
    free(c.nbr_scratch);
    free(c.dist_scratch);
}

void hps_free(void *ctxp) {
    ctx_t *c = (ctx_t *)ctxp;
    free(c->node_off);
    free(c->lay_off);
    free(c->pool);
    free(c->alen);
    free(c->visited_epoch);
    free(c->cand_h.v);
    free(c->beam_h.v);
    free(c->scratch);
    free(c->nbr_scratch);
    free(c->dist_scratch);
    free(c);
}
