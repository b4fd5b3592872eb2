/* Tiny libjpeg harness used ONLY by tests as an external differential
 * oracle for the JPEG implementation:
 *   encode <w> <h> <ncomp> [h2v2]  : raw pixels on stdin  -> JPEG on stdout
 *   decode                          : JPEG on stdin        -> "w h ncomp\n" + raw pixels on stdout
 *   coefs                           : JPEG on stdin        -> quantized DCT coefficients
 * encode writes arithmetic coding unless HARNESS_HUFFMAN is set;
 * HARNESS_PROGRESSIVE selects jpeg_simple_progression and
 * HARNESS_RESTART=<n> a restart interval of n MCUs.
 * Public libjpeg API only. */
#include <stdio.h>
#include <stdlib.h>
#include <string.h>
#include <jpeglib.h>
#include <stdlib.h>

static void die(const char *m) { fprintf(stderr, "%s\n", m); exit(2); }

static int enc(int w, int h, int ncomp, int subsample) {
  struct jpeg_compress_struct c;
  struct jpeg_error_mgr e;
  unsigned long outlen = 0;
  unsigned char *out = NULL;
  size_t rowbytes = (size_t)w * ncomp, i;
  JSAMPROW row;
  unsigned char *buf = malloc(rowbytes * h);
  if (!buf || fread(buf, 1, rowbytes * h, stdin) != rowbytes * h)
    die("short pixel read");
  c.err = jpeg_std_error(&e);
  jpeg_create_compress(&c);
  jpeg_mem_dest(&c, &out, &outlen);
  c.image_width = w; c.image_height = h;
  c.input_components = ncomp;
  c.in_color_space = ncomp == 1 ? JCS_GRAYSCALE : JCS_YCbCr;
  jpeg_set_defaults(&c);
  jpeg_set_quality(&c, 95, TRUE);
  c.arith_code = getenv("HARNESS_HUFFMAN") ? FALSE : TRUE;
  { const char *ri = getenv("HARNESS_RESTART"); if (ri) c.restart_interval = atoi(ri); }
  if (getenv("HARNESS_PROGRESSIVE")) jpeg_simple_progression(&c);
  c.optimize_coding = FALSE;
  if (ncomp == 3 && !subsample) {   /* force 4:4:4 unless asked */
    c.comp_info[0].h_samp_factor = c.comp_info[0].v_samp_factor = 1;
  }
  jpeg_start_compress(&c, TRUE);
  for (i = 0; i < (size_t)h; i++) {
    row = buf + i * rowbytes;
    jpeg_write_scanlines(&c, &row, 1);
  }
  jpeg_finish_compress(&c);
  fwrite(out, 1, outlen, stdout);
  jpeg_destroy_compress(&c);
  return 0;
}

static int dec(void) {
  struct jpeg_decompress_struct d;
  struct jpeg_error_mgr e;
  unsigned char *in = NULL; size_t cap = 1 << 20, n = 0, r;
  in = malloc(cap);
  while ((r = fread(in + n, 1, cap - n, stdin)) > 0) {
    n += r;
    if (n == cap) { cap <<= 1; in = realloc(in, cap); }
  }
  d.err = jpeg_std_error(&e);
  jpeg_create_decompress(&d);
  jpeg_mem_src(&d, in, n);
  if (jpeg_read_header(&d, TRUE) != JPEG_HEADER_OK) die("bad header");
  d.out_color_space = d.num_components == 1 ? JCS_GRAYSCALE : JCS_YCbCr;
  d.do_fancy_upsampling = FALSE;    /* nearest-neighbor, like ours */
  jpeg_start_decompress(&d);
  printf("%u %u %d\n", d.output_width, d.output_height, d.output_components);
  {
    size_t rowbytes = (size_t)d.output_width * d.output_components;
    unsigned char *row = malloc(rowbytes);
    while (d.output_scanline < d.output_height) {
      JSAMPROW rp = row;
      jpeg_read_scanlines(&d, &rp, 1);
      fwrite(row, 1, rowbytes, stdout);
    }
  }
  jpeg_finish_decompress(&d);
  jpeg_destroy_decompress(&d);
  return 0;
}


static int coefs(void) {
  struct jpeg_decompress_struct d;
  struct jpeg_error_mgr e;
  unsigned char *in = NULL; size_t cap = 1 << 20, n = 0, r;
  jvirt_barray_ptr *arrays;
  int ci;
  in = malloc(cap);
  while ((r = fread(in + n, 1, cap - n, stdin)) > 0) {
    n += r;
    if (n == cap) { cap <<= 1; in = realloc(in, cap); }
  }
  d.err = jpeg_std_error(&e);
  jpeg_create_decompress(&d);
  jpeg_mem_src(&d, in, n);
  if (jpeg_read_header(&d, TRUE) != JPEG_HEADER_OK) die("bad header");
  arrays = jpeg_read_coefficients(&d);
  printf("%d\n", d.num_components);
  for (ci = 0; ci < d.num_components; ci++) {
    jpeg_component_info *comp = d.comp_info + ci;
    JDIMENSION br, bc;
    printf("%u %u\n", comp->height_in_blocks, comp->width_in_blocks);
    for (br = 0; br < comp->height_in_blocks; br++) {
      JBLOCKARRAY rows = (*d.mem->access_virt_barray)
        ((j_common_ptr)&d, arrays[ci], br, 1, FALSE);
      for (bc = 0; bc < comp->width_in_blocks; bc++) {
        int k;
        for (k = 0; k < 64; k++) printf("%d ", rows[0][bc][k]);
        printf("\n");
      }
    }
  }
  jpeg_finish_decompress(&d);
  jpeg_destroy_decompress(&d);
  return 0;
}

int main(int argc, char **argv) {
  if (argc >= 2 && !strcmp(argv[1], "encode")) {
    if (argc < 5) die("usage: encode w h ncomp [h2v2]");
    return enc(atoi(argv[2]), atoi(argv[3]), atoi(argv[4]), argc > 5);
  }
  if (argc >= 2 && !strcmp(argv[1], "decode")) return dec();
  if (argc >= 2 && !strcmp(argv[1], "coefs")) return coefs();
  die("usage: encode|decode");
  return 2;
}
