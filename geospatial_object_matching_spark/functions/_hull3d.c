/* Exact 6x volume of the 3-D convex hull of integer lattice points.
 *
 * Compiled twin of geometry._hull_vol6_exact (the Python kernel stays as
 * the fallback and the differential-test reference).  Beneath-beyond
 * insertion; every predicate is exact in __int128, so the hull, and the
 * divergence-sum volume over it, do not depend on insertion order.
 *
 * Magnitudes, for |q| <= 2^30 (checked on entry; quantize_hull_points
 * guarantees it): coordinate differences <= 2^31; normal components
 * <= 2^62 (twice a triangle's area projected into a square of side 2^31);
 * plane offsets <= 3 * 2^92; orientation against 4x the simplex centroid
 * <= 3 * 2^95; per-face volume terms <= 3 * 2^91.  All fit __int128 with
 * room for the sum over any face count that fits in memory.
 *
 * Build: gcc -O2 -shared -fPIC -o hull3d.so _hull3d.c
 */
#include <stdint.h>
#include <stdlib.h>

typedef __int128 i128;

enum { HULL3D_OK = 0, HULL3D_RANGE = 1, HULL3D_NOMEM = 2 };

#define QMAX ((int64_t)1 << 30)

typedef struct {
    int64_t a, b, c;
    i128 nx, ny, nz, d; /* outward normal (b-a) x (c-a) and n . a */
} face_t;

typedef struct {
    int64_t lo, hi, e0, e1; /* undirected key (lo, hi) of directed e0 -> e1 */
} edge_t;

typedef struct {
    int64_t key, idx;
} order_t;

static i128 side(const face_t *f, const int64_t *q, int64_t p)
{
    const int64_t *x = q + 3 * p;
    return f->nx * x[0] + f->ny * x[1] + f->nz * x[2] - f->d;
}

/* Plane of triangle (a, b, c), in that orientation. */
static void plane(face_t *f, const int64_t *q, int64_t a, int64_t b, int64_t c)
{
    const int64_t *A = q + 3 * a, *B = q + 3 * b, *C = q + 3 * c;
    int64_t ux = B[0] - A[0], uy = B[1] - A[1], uz = B[2] - A[2];
    int64_t vx = C[0] - A[0], vy = C[1] - A[1], vz = C[2] - A[2];
    f->a = a; f->b = b; f->c = c;
    f->nx = (i128)(uy * vz) - (i128)(uz * vy);
    f->ny = (i128)(uz * vx) - (i128)(ux * vz);
    f->nz = (i128)(ux * vy) - (i128)(uy * vx);
    f->d = f->nx * A[0] + f->ny * A[1] + f->nz * A[2];
}

/* Plane of (a, b, c), oriented so the interior point r4 / 4 lies strictly
 * below it (never on it: r4 / 4 is interior to every hull grown from the
 * initial simplex, and every face here is non-degenerate). */
static void make_face(face_t *f, const int64_t *q, const i128 *r4,
                      int64_t a, int64_t b, int64_t c)
{
    plane(f, q, a, b, c);
    if (f->nx * r4[0] + f->ny * r4[1] + f->nz * r4[2] - 4 * f->d > 0) {
        f->b = c; f->c = b;
        f->nx = -f->nx; f->ny = -f->ny; f->nz = -f->nz; f->d = -f->d;
    }
}

static int cmp_edge(const void *x, const void *y)
{
    const edge_t *e = x, *g = y;
    if (e->lo != g->lo) return e->lo < g->lo ? -1 : 1;
    return (e->hi > g->hi) - (e->hi < g->hi);
}

/* farthest-first: the hull reaches its extremes early (heuristic only) */
static int cmp_order(const void *x, const void *y)
{
    const order_t *o = x, *r = y;
    if (o->key != r->key) return o->key > r->key ? -1 : 1;
    return (o->idx > r->idx) - (o->idx < r->idx);
}

static double dabs(i128 v) { return v < 0 ? -(double)v : (double)v; }

int gom_hull3d_vol6(const int64_t *q, int64_t n, int64_t *hi, uint64_t *lo)
{
    *hi = 0; *lo = 0;
    for (int64_t k = 0; k < 3 * n; k++)
        if (q[k] > QMAX || q[k] < -QMAX) return HULL3D_RANGE;
    if (n < 4) return HULL3D_OK;

    /* initial simplex: any non-degenerate one yields the same hull */
    int64_t i1 = 0, i2 = 0, i3 = 0;
    i128 best = 0;
    for (int64_t j = 1; j < n; j++) {
        i128 dx = q[3*j] - q[0], dy = q[3*j+1] - q[1], dz = q[3*j+2] - q[2];
        i128 d2 = dx * dx + dy * dy + dz * dz;
        if (d2 > best) { best = d2; i1 = j; }
    }
    if (best == 0) return HULL3D_OK;
    double bn = 0.0;
    face_t f0;
    for (int64_t j = 0; j < n; j++) {
        plane(&f0, q, 0, i1, j);
        double m = dabs(f0.nx) * dabs(f0.nx) + dabs(f0.ny) * dabs(f0.ny)
                 + dabs(f0.nz) * dabs(f0.nz);
        if (m > bn) { bn = m; i2 = j; }
    }
    if (bn == 0.0) return HULL3D_OK;                    /* collinear */
    plane(&f0, q, 0, i1, i2);
    double bh = 0.0;
    for (int64_t j = 0; j < n; j++) {
        double h = dabs(side(&f0, q, j));
        if (h > bh) { bh = h; i3 = j; }
    }
    if (bh == 0.0) return HULL3D_OK;                    /* coplanar */
    const int64_t sv[4] = {0, i1, i2, i3};
    i128 r4[3];  /* 4x the simplex centroid: strictly interior */
    for (int k = 0; k < 3; k++)
        r4[k] = (i128)q[k] + q[3*i1+k] + q[3*i2+k] + q[3*i3+k];

    int64_t cap = 64, nf = 4;
    face_t *faces = malloc(cap * sizeof *faces);
    char *vis = malloc(cap);
    edge_t *edges = malloc(3 * cap * sizeof *edges);
    order_t *order = malloc(n * sizeof *order);
    int rc = HULL3D_NOMEM;
    if (!faces || !vis || !edges || !order) goto done;
    make_face(&faces[0], q, r4, 0, i1, i2);
    make_face(&faces[1], q, r4, 0, i1, i3);
    make_face(&faces[2], q, r4, 0, i2, i3);
    make_face(&faces[3], q, r4, i1, i2, i3);

    for (int64_t j = 0; j < n; j++) {
        const int64_t *x = q + 3 * j;
        order[j].key = x[0] * x[0] + x[1] * x[1] + x[2] * x[2];
        order[j].idx = j;
    }
    qsort(order, n, sizeof *order, cmp_order);

    for (int64_t t = 0; t < n; t++) {
        int64_t p = order[t].idx;
        if (p == sv[0] || p == sv[1] || p == sv[2] || p == sv[3]) continue;
        int64_t nv = 0;
        for (int64_t i = 0; i < nf; i++) {
            vis[i] = side(&faces[i], q, p) > 0;
            nv += vis[i];
        }
        if (nv == 0) continue;
        /* horizon: edges of visible faces whose twin face is not visible,
         * i.e. undirected edges that appear once among visible faces */
        int64_t ne = 0;
        for (int64_t i = 0; i < nf; i++) {
            if (!vis[i]) continue;
            const int64_t v[3] = {faces[i].a, faces[i].b, faces[i].c};
            for (int k = 0; k < 3; k++) {
                int64_t e0 = v[k], e1 = v[(k + 1) % 3];
                edges[ne].lo = e0 < e1 ? e0 : e1;
                edges[ne].hi = e0 < e1 ? e1 : e0;
                edges[ne].e0 = e0;
                edges[ne].e1 = e1;
                ne++;
            }
        }
        qsort(edges, ne, sizeof *edges, cmp_edge);
        int64_t w = 0;
        for (int64_t i = 0; i < nf; i++)
            if (!vis[i]) faces[w++] = faces[i];
        nf = w;
        for (int64_t i = 0; i < ne; i++) {
            int dup = (i > 0 && !cmp_edge(&edges[i], &edges[i - 1]))
                   || (i + 1 < ne && !cmp_edge(&edges[i], &edges[i + 1]));
            if (dup) continue;
            if (nf == cap) {
                cap *= 2;
                face_t *nfc = realloc(faces, cap * sizeof *faces);
                char *nvis = realloc(vis, cap);
                edge_t *ned = realloc(edges, 3 * cap * sizeof *edges);
                if (nfc) faces = nfc;
                if (nvis) vis = nvis;
                if (ned) edges = ned;
                if (!nfc || !nvis || !ned) goto done;
            }
            make_face(&faces[nf++], q, r4, edges[i].e0, edges[i].e1, p);
        }
    }

    /* divergence sum over the closed, outward-oriented surface */
    i128 vol6 = 0;
    for (int64_t i = 0; i < nf; i++) {
        const int64_t *A = q + 3 * faces[i].a;
        const int64_t *B = q + 3 * faces[i].b;
        const int64_t *C = q + 3 * faces[i].c;
        vol6 += (i128)A[0] * (B[1] * C[2] - B[2] * C[1])
              + (i128)A[1] * (B[2] * C[0] - B[0] * C[2])
              + (i128)A[2] * (B[0] * C[1] - B[1] * C[0]);
    }
    if (vol6 < 0) vol6 = -vol6;
    *hi = (int64_t)(vol6 >> 64);
    *lo = (uint64_t)vol6;
    rc = HULL3D_OK;
done:
    free(faces); free(vis); free(edges); free(order);
    return rc;
}
