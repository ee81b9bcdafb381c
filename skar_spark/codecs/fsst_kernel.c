/* Compiled FSST loops for codecs/fsst.py, loaded through codecs/native.py.
 *
 * Every function is the exact counterpart of a numpy rule in fsst.py, which
 * is the fallback and the reference (tests/test_fsst_kernel.py checks them
 * byte for byte). No static state: every call is re-entrant, and cffi
 * releases the GIL around it. */
#include <stddef.h>
#include <stdint.h>
#include <stdlib.h>
#include <string.h>

/* present[b] = 1 if byte value b occurs in in[0..n), else 0 */
void skar_byte_presence(const uint8_t *in, size_t n, uint8_t *present)
{
    memset(present, 0, 256);
    for (size_t i = 0; i < n; i++)
        present[in[i]] = 1;
}

/* One greedy left-to-right pair pass: at i, a pair with lut[pair] != 0 is
 * emitted as code lut[pair] - 1 and both bytes are consumed, else in[i] is
 * copied. Branch-free (a data-dependent branch mispredicts on text): i
 * advances by one every step, a byte consumed as the second of a pair is
 * written and then overwritten (j stays), and the only loop-carried state
 * is that flag. out holds at least n bytes; returns the bytes written. */
size_t skar_pair_pass(const uint8_t *restrict in, size_t n,
                      const uint16_t *restrict lut, uint8_t *restrict out)
{
    size_t i = 0, j = 0;
    unsigned consumed = 0;
    for (; i + 1 < n; i++) {
        unsigned x = in[i], c = lut[(x << 8) | in[i + 1]];
        unsigned sel = !consumed & (c != 0);
        out[j] = (uint8_t)(x ^ ((x ^ (c - 1)) & (0u - sel)));
        j += !consumed;
        consumed = sel;
    }
    if (i < n && !consumed)
        out[j++] = in[i];
    return j;
}

/* Replace pair `best` greedily left to right by `code` in place (j <= i,
 * so the bytes still to be read are intact), and keep cnt the pair counts
 * of buf: only pairs that touch a replaced pair change. */
static size_t replace_pair(uint8_t *buf, size_t n, unsigned best,
                           unsigned code, size_t *cnt)
{
    const unsigned p0 = best >> 8, p1 = best & 0xFF;
    size_t i = 0, j = 0;
    unsigned after = 0;  /* buf[j - 1] is a code written by this call */
    while (i < n) {
        unsigned b = buf[i];
        if (b == p0 && i + 1 < n && buf[i + 1] == p1) {
            cnt[best]--;
            if (i + 2 < n)  /* (p1, next): the next site's left pair too */
                cnt[(p1 << 8) | buf[i + 2]]--;
            if (after) {
                cnt[(code << 8) | code]++;
            } else if (j > 0) {
                cnt[((unsigned)buf[j - 1] << 8) | p0]--;
                cnt[((unsigned)buf[j - 1] << 8) | code]++;
            }
            buf[j++] = (uint8_t)code;
            i += 2;
            after = 1;
        } else {
            if (after)
                cnt[(code << 8) | b]++;
            buf[j++] = (uint8_t)b;
            i++;
            after = 0;
        }
    }
    return j;
}

/* The table build on a sample, rewritten in place: each round takes the
 * most frequent adjacent pair (the lowest pair value among ties), stops
 * when it occurs fewer than min_count times, and replaces it greedily left
 * to right by the round's code. The pair counts are taken once and then
 * kept current by the replacements. pairs receives 2 bytes per round;
 * returns the rounds done, or -1 when the counts cannot be allocated. */
int skar_build_table(uint8_t *buf, size_t n, const uint8_t *codes,
                     int n_codes, size_t min_count, uint8_t *pairs)
{
    int k = 0;
    size_t *cnt;
    if (n < 4)
        return 0;
    cnt = calloc(65536, sizeof *cnt);
    if (!cnt)
        return -1;
    for (size_t i = 0; i + 1 < n; i++)
        cnt[((unsigned)buf[i] << 8) | buf[i + 1]]++;
    for (; k < n_codes && n >= 2; k++) {
        size_t best_c = 0;
        unsigned best = 0;
        for (unsigned v = 0; v < 65536; v++)
            if (cnt[v] > best_c) {
                best_c = cnt[v];
                best = v;
            }
        if (best_c < min_count)
            break;
        n = replace_pair(buf, n, best, codes[k], cnt);
        pairs[2 * k] = (uint8_t)(best >> 8);
        pairs[2 * k + 1] = (uint8_t)best;
    }
    free(cnt);
    return k;
}

/* Expand every byte b of in to syms[off[b] .. off[b + 1]) (a raw byte's
 * entry is itself). syms is readable 16 bytes past off[256]. Writes at most
 * cap bytes of out; returns the bytes written, or (size_t)-1 when the
 * expansion is longer than cap. */
size_t skar_expand(const uint8_t *in, size_t n, const uint64_t *off,
                   const uint8_t *syms, uint8_t *out, size_t cap)
{
    size_t j = 0;
    for (size_t i = 0; i < n; i++) {
        const uint8_t *s = syms + off[in[i]];
        size_t len = off[in[i] + 1] - off[in[i]];
        if (len > cap - j)
            return (size_t)-1;
        if (len <= 16 && cap - j >= 16)
            memcpy(out + j, s, 16);  /* fixed size: two moves, no call */
        else
            memcpy(out + j, s, len);
        j += len;
    }
    return j;
}
